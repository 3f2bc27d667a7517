package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.datagen.DocGen
import graft.engine.Pipeline

/** Correctness gate: per-check violation counts against the DocGen plant
  * table, derived in closed form the way PipelineGoldenSpec derives its
  * expected sets.
  */
object Gate {

  /** Expected counts of the id-derivable plants of a DocGen corpus of `n`
    * documents (ids 0 until n). `perturb` adds one to the named check's
    * expectation — the self-test's way of proving the gate can fail.
    */
  def expected(n: Long, perturb: Option[String]): Map[String, Long] = {
    val ids = 0L until n
    val articles = ids.filter(DocGen.isArticle)
    def cnt(xs: Seq[Long])(p: Long => Boolean): Long = xs.count(p).toLong
    val base = Map(
      "PROPERTIES-DEFINED-100" -> 1L,
      "CLASSES-DEFINED-100" -> 1L,
      "URI-EXISTENCE-100" -> cnt(ids)(_ % 97 == 0),
      "DATATYPE-PROPERTIES-DATATYPE-101" -> ids.map { i =>
        Seq(i % 89 == 0, i % 53 == 0, i % 47 == 0, i % 59 == 0,
          i % 67 != 0 && i % 61 == 0, i % 29 == 0 && i % 83 != 0).count(identity).toLong
      }.sum,
      "OWL-RESTRICTION-MAX-101" -> cnt(articles)(_ % 73 == 0),
      "OWL-RESTRICTION-MIN-102" -> cnt(articles)(_ % 79 == 0),
      "OWL-RESTRICTION-EXACT-100" -> cnt(articles)(i => i % 83 != 0 && i % 71 == 0),
      "OWL-RESTRICTION-EXACT-102" -> cnt(articles)(_ % 83 == 0),
      "OWL-RESTRICTION-EXACT-104" -> cnt(articles)(i => i % 29 == 0 && i % 83 != 0),
      "OWL-RESTRICTION-SOME-100" -> cnt(articles)(_ % 67 == 0),
      "OWL-RESTRICTION-SOME-101" -> cnt(articles)(_ % 37 == 0),
      "OWL-RESTRICTION-SOME-102" -> cnt(articles)(i => i % 67 != 0 && i % 61 == 0),
      "OWL-RESTRICTION-ONLY-100" -> cnt(articles)(_ % 59 == 0),
      "OWL-RESTRICTION-ONLY-101" -> cnt(articles)(_ % 37 == 0))
    perturb.fold(base)(id => base.updated(id, base.getOrElse(id, 0L) + 1))
  }

  /** Mismatches of `counts` against the plant expectation (empty = pass). */
  def plants(counts: Map[String, Long], want: Map[String, Long]): Seq[String] =
    want.toSeq.sorted.collect {
      case (id, n) if counts.getOrElse(id, 0L) != n =>
        s"$id: got ${counts.getOrElse(id, 0L)}, expected $n"
    }

  /** Mismatches between two full per-check count maps. */
  def same(counts: Map[String, Long], ref: Map[String, Long], what: String): Seq[String] =
    (counts.keySet ++ ref.keySet).toSeq.sorted.collect {
      case id if counts.getOrElse(id, 0L) != ref.getOrElse(id, 0L) =>
        s"$id: got ${counts.getOrElse(id, 0L)}, $what ${ref.getOrElse(id, 0L)}"
    }

  def countsOf(violations: DataFrame): Map[String, Long] =
    violations.groupBy("checkId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}

/** One composed validation pass, as a caller of `engine.Pipeline` runs it:
  * the nine `Checks.all` checks, cached; per-check counts (the action that
  * forces the composed plan); then the verdict rollup over the cached
  * violations.
  */
object Pass {

  final case class Result(counts: Map[String, Long], problems: Seq[String])

  def run(spark: SparkSession, docs: DataFrame, nDocs: Long, tracer: Tracer,
          op: String): Result = {
    val v = Pipeline.violations(spark, docs, DocGen.schema).cache()
    try {
      val counts = tracer.span("pass.violations", op)(Gate.countsOf(v))
      val verdicts = tracer.span("pass.rollup", op, tracer.child("rollup"))(
        Pipeline.verdictsFrom(spark, v, docs, DocGen.schema, op).collect())
      val rolled = verdicts.map(_.getLong(3)).sum
      val bucketDocs = verdicts.filter(_.getInt(0) >= 0)
        .map(r => r.getInt(0) -> r.getLong(4)).toMap.values.sum
      val problems =
        (if (rolled != counts.values.sum)
          Seq(s"verdicts roll up $rolled violations, the pass produced ${counts.values.sum}")
        else Nil) ++
        (if (bucketDocs != nDocs) Seq(s"verdicts cover $bucketDocs docs of $nDocs") else Nil)
      Result(counts, problems)
    } finally v.unpersist()
  }
}
