package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs the workloads feed the engine. Everything is a pure function
  * of the seed: the same seed gives the same rows in the same order, and a
  * different seed gives different values with the same row counts. Planted
  * near-duplicates and contaminated documents are recorded here, so their
  * ground truth never comes from the engine's own output.
  */
object Inputs {

  /** Rows → a DataFrame split into `slices` contiguous, order-preserving slices. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType, slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  // ------------------------------------------------------------ documents

  val StopEn: IndexedSeq[String] = IndexedSeq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
  val StopDe: IndexedSeq[String] = IndexedSeq("der", "die", "und", "das", "ist", "nicht", "mit", "ein")

  /** A fixed vocabulary of 4096 lowercase pseudo-words (seed-independent). */
  val Vocab: IndexedSeq[String] = {
    val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
    (0 until 4096).map { i =>
      val a = i % 16; val b = (i / 16) % 5; val c = (i / 80) % 16; val d = (i / 1280) % 5
      s"${cons(a)}${vow(b)}${cons(c)}${vow(d)}${cons((i / 6400 + a) % 16)}"
    }.distinct.take(4096)
  }

  final case class Doc(id: Long, text: String)

  sealed trait Kind
  case object Clean extends Kind
  final case class CrossTwin(refId: Long) extends Kind
  final case class ExactCopy(refId: Long) extends Kind
  final case class WithinTwin(ofId: Long) extends Kind
  case object Contaminated extends Kind

  final case class Corpus(
      reference: IndexedSeq[Doc],
      benchmark: IndexedSeq[String],
      shards: IndexedSeq[IndexedSeq[Doc]],
      kinds: Map[Long, Kind]) {
    /** Docs whose id takes part in a planted relation (never "clean"). */
    lazy val planted: Set[Long] = kinds.collect {
      case (id, k) if k != Clean => id
    }.toSet ++ kinds.values.collect { case WithinTwin(of) => of }
    lazy val clean: Set[Long] = kinds.keySet -- planted
  }

  private def words(r: SplittableRandom, n: Int, stop: IndexedSeq[String], stopShare: Double): Vector[String] =
    Vector.fill(n)(if (r.nextDouble() < stopShare) stop(r.nextInt(stop.length)) else Vocab(r.nextInt(Vocab.length)))

  /** A document body: mostly English-stopword prose that clears the quality
    * gate, with a share of German-stopword and too-short documents that do not.
    */
  private def body(r: SplittableRandom): Vector[String] = {
    val u = r.nextDouble()
    if (u < 0.08) words(r, 8 + r.nextInt(8), StopEn, 0.3) // too short for the gate
    else if (u < 0.16) words(r, 50 + r.nextInt(60), StopDe, 0.3) // not "en"
    else words(r, 50 + r.nextInt(70), StopEn, 0.3)
  }

  /** One token replaced and one appended: exact shingle Jaccard ≈ 0.9. */
  private def edit(r: SplittableRandom, toks: Vector[String]): Vector[String] =
    toks.updated(toks.length / 2, Vocab(r.nextInt(Vocab.length))) :+ Vocab(r.nextInt(Vocab.length))

  def corpus(seed: Long, refDocs: Int, shardCount: Int, shardDocs: Int, benchPassages: Int): Corpus = {
    val r = new SplittableRandom(seed ^ 0x5eedc0de1L)
    val ref = (1 to refDocs).map(i => Doc(i.toLong, body(r).mkString(" ")))
    val bench = (0 until benchPassages).map(_ => words(r, 12, StopEn, 0.0).mkString(" "))
    // twins need enough shingles to stay above the 0.5 Jaccard cut after an edit
    val refLong = ref.filter(_.text.count(_ == ' ') >= 49)
    val kinds = scala.collection.mutable.LinkedHashMap.empty[Long, Kind]
    val shards = (0 until shardCount).map { s =>
      val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[String])]
      (0 until shardDocs).foreach { j =>
        val id = 1000000L + s * 10000L + j
        val u = r.nextDouble()
        val cleanSources = docs.filter { case (d, t) => kinds(d) == Clean && t.length >= 50 }
        val (kind, toks) =
          if (u < 0.10) { val d = refLong(r.nextInt(refLong.length)); CrossTwin(d.id) -> edit(r, d.text.split(' ').toVector) }
          else if (u < 0.15) { val d = ref(r.nextInt(ref.length)); ExactCopy(d.id) -> d.text.split(' ').toVector }
          else if (u < 0.20 && cleanSources.nonEmpty) {
            val (of, t) = cleanSources(r.nextInt(cleanSources.length)); WithinTwin(of) -> edit(r, t)
          } else if (u < 0.25) {
            val t = body(r); val at = r.nextInt(t.length + 1)
            Contaminated -> ((t.take(at) ++ bench(r.nextInt(bench.length)).split(' ')) ++ t.drop(at))
          } else Clean -> body(r)
        kinds(id) = kind
        docs += id -> toks
      }
      docs.map { case (id, t) => Doc(id, t.mkString(" ")) }.toIndexedSeq
    }
    Corpus(ref, bench, shards, kinds.toMap)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  def docRows(docs: Seq[Doc]): Seq[Row] = docs.map(d => Row(d.id, d.text))

  // -------------------------------------------------------------- events

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val EventTypes = IndexedSeq("signup", "purchase", "view", "click", "error")

  /** The `events` fact stream: 30 days from 2024-01-01 UTC, ascending ts. */
  def events(seed: Long, n: Int, users: Int): Seq[Row] = {
    val r = new SplittableRandom(seed ^ 0xe7e475L)
    val start = 1704067200000L // 2024-01-01T00:00:00Z
    val span = 30L * 86400L * 1000000L
    val micros = Array.fill(n)(r.nextLong(span)).sorted
    micros.indices.map { i =>
      Row(i.toLong, Timestamp.from(java.time.Instant.ofEpochMilli(start).plusNanos(micros(i) * 1000L)),
        1L + r.nextInt(users), EventTypes(r.nextInt(EventTypes.length)),
        r.nextInt(20001) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }
}
