package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chains, cliques, and singleton-free output") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (pair)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: long path converges to one component") {
    // path 0-1-2-...-12: diameter > a couple rounds, exercises the loop
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.length == 13 && got.forall(_._2 == 0L))
  }

  test("connectedComponents: empty edges yield empty output; self-loop-only nodes keep rep=self") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Graph.connectedComponents(empty).count() == 0)
    // a node appearing ONLY in self-loop edges is still a node — both
    // implementations must return it as its own singleton component
    val loops = Seq((3L, 3L), (9L, 9L), (9L, 20L)).toDF("id_a", "id_b")
    val star = Graph.connectedComponents(loops).as[(Long, Long)].collect().toMap
    val prop = Graph.connectedComponentsLabelProp(loops).as[(Long, Long)].collect().toMap
    assert(star == Map(3L -> 3L, 9L -> 9L, 20L -> 9L), s"got $star")
    assert(star == prop, "star/labelProp must agree on self-loop-only nodes")
  }

  test("connectedComponents: path graphs converge in O(log n) rounds, not O(diameter)") {
    // a 128-node chain is label propagation's worst case (127 rounds); the
    // star contraction bound is ~log2(n) + a small constant
    val n = 128
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (reps, rounds) = Graph.connectedComponentsStarRounds(edges, maxIters = 40)
    assert(reps.as[(Long, Long)].collect().forall(_._2 == 0L))
    val bound = math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 5
    assert(rounds <= bound, s"path-$n took $rounds rounds, bound $bound")
  }

  test("connectedComponents: hybrid matches label propagation on random graphs, every phase split") {
    val rnd = new scala.util.Random(1347L)
    for (_ <- 0 until 5) {
      val n = 20 + rnd.nextInt(60)
      // self-loops stay IN the generated list: the two implementations
      // must agree that a self-loop-only node is a singleton component
      val edges = (0 until n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .distinct.toDF("id_a", "id_b")
      val prop = Graph.connectedComponentsLabelProp(edges).as[(Long, Long)].collect().toMap
      // propRounds 0 = pure star phase; 1 = contraction after one label
      // round (partial labels); 25 = label phase converges, star never runs
      for (pr <- Seq(0, 1, 25)) {
        val hybrid = Graph.connectedComponents(edges, propRounds = pr)
          .as[(Long, Long)].collect().toMap
        assert(hybrid == prop, s"hybrid(propRounds=$pr)/labelProp diverged on n=$n")
      }
    }
  }

  test("connectedComponents: deep path finishes through the contract-then-star phase") {
    // 64-node chain with propRounds=2: label phase cannot converge, the
    // star phase must finish on the contracted graph — exact reps required
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(edges, propRounds = 2).as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 0L))
  }

  test("pageRank: matches a driver-side power-iteration replay on random digraphs") {
    val rnd = new scala.util.Random(47L)
    for (round <- 0 until 5) {
      val n = 5 + rnd.nextInt(10)
      val edges = (0 until 2 * n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        val iters = 1 + rnd.nextInt(5)
        val got = Graph.pageRank(edges.toDF("src", "dst"), iters = iters)
          .as[(Long, Double)].collect().toMap

        // replay the exact recurrence: r0 = 1/N; rK = (1-d)/N + d * inbound
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val nn = nodes.length.toDouble
        val outdeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
        var r = nodes.map(_ -> 1.0 / nn).toMap
        for (_ <- 0 until iters) {
          val in = edges.groupBy(_._2).view.mapValues(
            _.map { case (u, _) => r(u) / outdeg(u) }.sum).toMap
          r = nodes.map(v => v -> ((1.0 - 0.85) / nn + 0.85 * in.getOrElse(v, 0.0))).toMap
        }
        nodes.foreach { v =>
          assert(math.abs(got(v) - r(v)) < 2e-6,
            s"round $round iters=$iters node $v: got ${got(v)} want ${r(v)}")
        }
        // rank mass stays <= 1 (dangling mass leaks, never grows) — modulo
        // the per-node 6dp rounding of the returned ranks
        assert(got.values.sum <= 1.0 + 5e-7 * nodes.length)
      }
    }
  }

  test("triangleCount: cliques, triangle-free graphs, normalization, and random-graph parity") {
    import spark.implicits._
    def count(edges: Seq[(Long, Long)]): Long =
      graft.ops.Graph.triangleCount(edges.toDF("src", "dst")).head().getLong(0)

    // K4 has C(4,3) = 4 triangles; reversed duplicates and self-loops are
    // normalized away before counting
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    assert(count(k4) == 4L)
    assert(count(k4 ++ k4.map(_.swap) ++ Seq((1L, 1L), (3L, 3L))) == 4L,
      "duplicates, reversed edges, and self-loops must not change the count")

    // a path and a star are triangle-free
    assert(count((1L to 9L).map(i => (i, i + 1))) == 0L)
    assert(count((2L to 9L).map(i => (1L, i))) == 0L)

    // random graphs vs a driver-side brute force over all vertex triples
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 24
      val edges = (for { a <- 1L to n; b <- 1L to n
        if a < b && rnd.nextDouble() < 0.25 } yield (a, b)).toSeq
      val adj = edges.toSet
      def has(a: Long, b: Long) = adj.contains((math.min(a, b), math.max(a, b)))
      val brute = (for { x <- 1L to n; y <- x + 1 to n; z <- y + 1 to n
        if has(x, y) && has(x, z) && has(y, z) } yield 1).size
      assert(count(edges) == brute.toLong, s"mismatch vs brute force on $edges")
    }
  }

  test("connectedComponentsAuto: NULL edge ids read as a validation error, not a driver NPE") {
    import spark.implicits._
    // surfaces the keyed merges' NULL-key discipline on the driver path
    // (under non-ANSI sessions a failed cast-to-long yields null and takes
    // the same guard; ANSI sessions fail the cast itself, also loudly)
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("id_a", "id_b")
    val e1 = intercept[IllegalArgumentException] {
      Graph.connectedComponentsAuto(withNull).collect()
    }
    assert(e1.getMessage.contains("NULL edge id"))
  }

  test("connectedComponentsAuto: driver union-find equals the distributed engine on random graphs") {
    // both sides of the cap on the SAME edge lists: a generous cap forces
    // the driver union-find, driverMax=0 forces the distributed fallback —
    // the (id -> rep) maps must be identical (rep = component min in both)
    val rnd = new scala.util.Random(18L)
    for (trial <- 0 until 5) {
      val n = 20 + rnd.nextInt(80)
      val edges = (0 until 2 * n)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .distinct.toDF("id_a", "id_b")
      val driver = Graph.connectedComponentsAuto(edges)
        .as[(Long, Long)].collect().toMap
      val distributed = Graph.connectedComponentsAuto(edges, driverMax = 0)
        .as[(Long, Long)].collect().toMap
      assert(driver == distributed, s"auto paths diverged on trial $trial (n=$n)")
    }
  }

  test("q134 plan shape: triangleCount's closing (t1, t2) join broadcasts on the sf0.1 edges") {
    // Graph.triangleCount keeps its wedge stream un-exchanged only while the
    // closing side broadcasts (the note above its closing join); when this
    // stops holding, the documented wedge pre-aggregation is due a retry.
    // The operator materializes internally, so its real plan is only
    // visible through the execution listener.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val sf01 = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.1").toString
      SparkEntry.queries("q134_triangles")(spark, sf01)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    val closing = plans.asScala.toSeq.flatMap(p => collectAll(p) {
      case j: BaseJoinExec if j.leftKeys.length == 2 => j.nodeName
    })
    assert(closing.nonEmpty, "no two-key (t1, t2) join in the executed plans")
    assert(closing.forall(_ == "BroadcastHashJoin"), closing.mkString(", "))
  }
}
