package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a pure function of the seed: the same seed
  * gives byte-identical rows, a different seed different rows with the same
  * counts. Run with `sbt -Dperfbench.sparkJars=<dir> test` in this project.
  */
class InputsSpec extends AnyFunSuite {

  /** SHA-256 of the rows as tab-separated lines. */
  private def bytes(rows: Seq[Row]): String = {
    val text = rows.map(_.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("\t")).mkString("", "\n", "\n")
    java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def sameSeedSameBytes(name: String, gen: Long => Seq[Row]): Unit =
    test(s"$name: same seed, same bytes; other seed, other bytes, same count") {
      val (a, b, c) = (gen(1L), gen(1L), gen(2L))
      assert(bytes(a) == bytes(b))
      assert(bytes(a) != bytes(c))
      assert(a.length == c.length)
    }

  sameSeedSameBytes("events", s => Inputs.events(s, 2000, 100))
  sameSeedSameBytes("corpus", s => {
    val c = Inputs.corpus(s, 200, 2, 100, 10)
    Inputs.docRows(c.reference) ++ Inputs.docRows(c.shards.flatten) ++ c.benchmark.map(Row(_))
  })

  test("corpus: planted ground truth is seeded and every kind is present") {
    val (a, b) = (Inputs.corpus(5L, 300, 2, 150, 10), Inputs.corpus(5L, 300, 2, 150, 10))
    assert(a.kinds == b.kinds)
    val kinds = a.kinds.values.map(_.getClass).toSet
    assert(kinds.size == 5, s"kinds present: $kinds")
    assert(a.clean.intersect(a.planted).isEmpty)
  }

  test("adtech batches from AdsDataGenerator are seeded the same way") {
    val spark = SparkSession.builder().master("local[2]").appName("InputsSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      def gen(seed: Long) = graft.gen.AdsDataGenerator
        .generate(spark, graft.gen.AdsDataGenerator.Params(campaigns = 20, days = 3, seed = seed))
        .orderBy(col("campaign_id"), col("adset_id"), col("creative_id"), col("dt")).collect().toSeq
      val (a, b, c) = (gen(1L), gen(1L), gen(2L))
      assert(bytes(a) == bytes(b))
      assert(bytes(a) != bytes(c))
      assert(a.length == c.length)
    } finally spark.stop()
  }
}
