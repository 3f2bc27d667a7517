package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.datagen.DocGen
import graft.model.{Document, Span}

/** A batch corpus row: its batch index plus one document. */
final case class BatchDoc(batch: Int, doc_id: String, spans: Seq[Span])

/** Seeded inputs. The seed changes input properties only — file layout
  * order, which id ranges form which batch, which documents a snapshot
  * step touches — never the generator, so every plant count stays
  * derivable from the DocGen plant table.
  */
object Inputs {

  /** Number of parquet files per written corpus (several per core, so
    * the scan is split evenly). */
  val Files = 8

  /** `n` DocGen documents written in a seed-dependent row order: row j
    * holds document `permutation(n, seed)(j)`, so the order costs no
    * shuffle. */
  def writeCorpus(spark: SparkSession, n: Long, seed: Long, path: String): Unit = {
    import spark.implicits._
    val perm = permutation(n, seed)
    spark.range(0, n, 1, Files).as[Long].map(j => DocGen.make(perm(j), n))
      .write.mode("overwrite").parquet(path)
  }

  /** A seeded bijection of [0, n): j -> (a * j + b) mod n with a coprime
    * to n. */
  def permutation(n: Long, seed: Long): Long => Long = {
    require(n < (1L << 31), s"corpus of $n docs: a * j would overflow")
    val rnd = new scala.util.Random(seed)
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    val a = Iterator.continually(1 + (rnd.nextDouble() * (n - 1)).toLong)
      .find(gcd(_, n) == 1).get
    val b = (rnd.nextDouble() * n).toLong
    j => (a * j + b) % n
  }

  private def shuffled(df: DataFrame, seed: Long): DataFrame =
    df.withColumn("__k", xxhash64(col("doc_id"), lit(seed)))
      .repartitionByRange(Files, col("__k")).sortWithinPartitions("__k")
      .drop("__k")

  /** `docs` rewritten onto the id range [off, off + m): a DocGen corpus of
    * `m` documents whose doc ids and in-corpus references are shifted, so
    * every batch is a distinct corpus with the plants of `DocGen(m)`.
    * Dangling references (`doc:missing:*`) stay dangling.
    */
  def shift(d: Document, off: Long): Document = {
    def moved(ref: String): String =
      if (ref == null || ref.startsWith("doc:missing:")) ref
      else DocGen.docId(ref.substring(4).toLong + off)
    Document(DocGen.docId(d.doc_id.substring(4).toLong + off),
      d.spans.map(s => s.copy(media_ref = moved(s.media_ref))))
  }

  /** The id-range order of the batch stream: position p holds ids
    * [order(p) * m, order(p) * m + m). */
  def batchOrder(nBatches: Int, seed: Long): IndexedSeq[Int] =
    new scala.util.Random(seed).shuffle((0 until nBatches).toIndexedSeq)

  /** `nBatches` corpora of `m` documents in one job, one parquet directory
    * each (`path/batch=<p>` for stream position p). */
  def writeBatches(spark: SparkSession, nBatches: Int, m: Int, seed: Long,
                   path: String): Unit = {
    import spark.implicits._
    val order = batchOrder(nBatches, seed)
    // one range partition per batch: partition p holds exactly the ids
    // [p * m, (p + 1) * m), so the write needs no shuffle
    spark.range(0, nBatches.toLong * m, 1, nBatches).as[Long].map { g =>
      val p = (g / m).toInt
      val d = shift(DocGen.make(g % m, m), order(p).toLong * m)
      BatchDoc(p, d.doc_id, d.spans)
    }.write.mode("overwrite").partitionBy("batch").parquet(path)
  }

  /** Snapshot S(k) from S(k-1): about 1/3 % of documents removed, 1/3 %
    * changed (every span text gets a '!' suffix, which flips datatype and
    * range verdicts) and 1/3 % added as fresh DocGen ids from `idsFrom`
    * on, which must lie above every id of S0. Which documents is a
    * function of (seed, k). */
  def writeStep(spark: SparkSession, prev: DataFrame, n: Long, k: Int,
                seed: Long, path: String, idsFrom: Long): Unit = {
    val h = pmod(xxhash64(col("doc_id"), lit(seed * 1000 + k)), lit(300))
    val changedSpans = transform(col("spans"), s => struct(
      s.getField("kind").as("kind"),
      concat(coalesce(s.getField("text"), lit("")), lit("!")).as("text"),
      s.getField("media_ref").as("media_ref"),
      s.getField("offset").as("offset")))
    val perStep = n / 300
    val added = DocGen.documentsRange(spark, idsFrom + (k - 1) * perStep,
      idsFrom + k * perStep, n).toDF()
    shuffled(prev.filter(h =!= 0)
      .withColumn("spans", when(h === 1, changedSpans).otherwise(col("spans")))
      .unionByName(added), seed + k)
      .write.mode("overwrite").parquet(path)
  }
}
