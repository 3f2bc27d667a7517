package graft.engine

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.model._

/** Run configuration — the Spark-native equivalent of `dvt.ini`
  * (reference: dvt:17 parses sections osf/credentials/data/tests; the check
  * pipeline is the `tests.checks[]` list, dvt.ini:21-33, instantiated by
  * class name at dvt:139-155).
  *
  * Format: a flat INI-like properties file (sections are dotted prefixes) —
  * machine- and human-editable without any parser dependency:
  *
  * {{{
  * data.documents = /path/to/docs-parquet
  * data.snapshotId = snap-2026-08-16
  * checks = kinds-defined, classes-defined, uri-existence, object-range,
  *          domain, datatype, cardinality, some, only
  * schema.kind.txt:title = datatype||http://www.w3.org/2001/XMLSchema#string
  * schema.class = class:Article, class:Image
  * schema.subclass = class:Image<class:Media
  * schema.restriction = class:Article|txt:title|min|1|http://...#string|
  * output.xml = /path/report.xml
  * output.json = /path/report.json
  * manifest = /path/manifest.jsonl
  * }}}
  *
  * The check registry uses explicit keys (the reference's config names
  * classes that don't exist — dvt.ini:22-23 vs the shipped
  * CheckPropertiesDefined — so name-to-class reflection is exactly what we
  * avoid).
  */
final case class ValidatorConfig(
    documentsPath: String,
    snapshotId: String,
    checkKeys: Seq[String],
    schema: SchemaDef,
    xmlOut: Option[String],
    jsonOut: Option[String],
    manifestPath: Option[String],
    nBuckets: Int,
    fixOut: Option[String] = None, // `fix.out`: dvt --fix analogue — write the URI-fixed snapshot here
    // `data.bucketedTable`: read the corpus from a doc_id-bucketed catalog
    // table (Layout.writeBucketed) instead of `data.documents` — the
    // universe side of the referential joins then scans pre-hashed buckets
    // with NO exchange (the largest shuffle in the pipeline at 10^12 docs)
    bucketedTable: Option[String] = None,
    // `delta.prevDocuments` + `delta.prevCore`: INCREMENTAL validation —
    // the span-validation scan runs over only the docs that changed since the
    // previous snapshot, carrying the prior row-local core forward
    // (Pipeline.violationsDelta). Both must be set together; the prev core
    // must come from a run with the SAME schema + check set (the app
    // refuses otherwise via the core's recorded lineage columns).
    deltaPrevDocuments: Option[String] = None,
    deltaPrevCore: Option[String] = None,
    // `profile.enabled`: persist a per-bucket mergeable profile of the
    // snapshot's span metrics alongside each run (ProfileStore) — one
    // extra single-pass scan; the stored rows make corpus profiles and
    // snapshot-over-snapshot drift metadata-cost reads
    profileEnabled: Boolean = false,
    // `drift.prevProfile`: a PRIOR run's outDir; when set (with
    // profile.enabled) the app writes a stored-profile drift report to
    // outDir/drift/run=N after validating
    driftPrevProfile: Option[String] = None
) {
  /** Normalized hash of the enabled check set (keys + per-check params) —
    * part of the manifest completion key alongside `schema.constraintHash`:
    * the same snapshot re-run with more checks or different params must NOT
    * resume as "complete" (round-3 advice, medium).
    */
  lazy val checksHash: String = ValidatorConfig.checksHash(checkKeys)

  /** The configured check instances (registry lookup + per-check params). */
  lazy val configuredChecks: Seq[graft.checks.ConstraintCheck] = checkKeys.map { key =>
    val (base, params) = ValidatorConfig.parseCheckKey(key)
    ValidatorConfig.CheckRegistry.getOrElse(base,
      sys.error(s"unknown check key '$base' (known: ${ValidatorConfig.CheckRegistry.keys.toSeq.sorted.mkString(", ")})"))
      .configure(params)
  }
}

object ValidatorConfig {

  val CheckRegistry: Map[String, graft.checks.ConstraintCheck] = Map(
    "kinds-defined" -> graft.checks.CheckKindsDefined,
    "classes-defined" -> graft.checks.CheckClassesDefined,
    "uri-existence" -> graft.checks.CheckUriExistence,
    "object-range" -> graft.checks.CheckObjectRange,
    "domain" -> graft.checks.CheckDomain,
    "datatype" -> graft.checks.CheckDatatype,
    "cardinality" -> graft.checks.CheckCardinality,
    "some" -> graft.checks.CheckSome,
    "only" -> graft.checks.CheckOnly,
    "field-type-defined" -> graft.checks.CheckFieldTypeDefined,
    "doc-id-unique" -> graft.checks.CheckDocIdUnique
  )

  /** `cardinality?maxBuckets=128&mode=x` → ("cardinality",
    * Map(maxBuckets -> 128, mode -> x)) — the reference CLI's per-check
    * parameter syntax (dvt:142-146: `--check-name?param=value`).
    */
  /** Order- and spelling-insensitive hash of a check-key list: each key is
    * normalized to `base?k=v&k=v` with params sorted, the list is sorted and
    * deduped, then md5'd — `"cardinality?b=2&a=1, datatype"` and
    * `"datatype, cardinality?a=1&b=2"` hash identically.
    */
  def checksHash(keys: Seq[String]): String = {
    val normalized = keys.map { k =>
      val (base, params) = parseCheckKey(k)
      if (params.isEmpty) base
      else base + "?" + params.toSeq.sorted.map { case (a, b) => s"$a=$b" }.mkString("&")
    }.distinct.sorted.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(normalized.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def parseCheckKey(key: String): (String, Map[String, String]) =
    key.split("\\?", 2) match {
      case Array(base) => (base.trim, Map.empty)
      case Array(base, q) =>
        (base.trim, q.split("&").iterator.map(_.split("=", 2)).collect {
          case Array(k, v) => k.trim -> v.trim
          case Array(k) => k.trim -> ""
        }.toMap)
    }

  def load(path: String): ValidatorConfig = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    // continuation-friendly key = value map (repeated keys accumulate)
    val kvs = scala.collection.mutable.ListBuffer[(String, String)]()
    lines.foreach { l =>
      val i = l.indexOf('=')
      if (i > 0) kvs += ((l.take(i).trim, l.drop(i + 1).trim))
      else if (kvs.nonEmpty) { // continuation line
        val (k, v) = kvs.last
        kvs(kvs.length - 1) = (k, v + " " + l)
      }
    }
    def all(k: String): Seq[String] = kvs.filter(_._1 == k).map(_._2).toSeq
    def one(k: String): Option[String] = all(k).headOption
    def list(k: String): Seq[String] =
      all(k).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

    val kinds = kvs.filter(_._1.startsWith("schema.kind.")).map { case (k, v) =>
      val kind = k.stripPrefix("schema.kind.")
      val parts = v.split("\\|", -1)
      KindDef(kind, parts(0),
        if (parts.length > 1 && parts(1).nonEmpty) parts(1).split(";").toSeq else Nil,
        if (parts.length > 2 && parts(2).nonEmpty) parts(2) else null)
    }.toSeq

    val subclasses = list("schema.subclass").map { e =>
      val Array(c, p) = e.split("<", 2); (c.trim, p.trim)
    }

    val restrictions = all("schema.restriction").map { v =>
      val p = v.split("\\|", -1)
      RestrictionDef(p(0), p(1), p(2), if (p(3).nonEmpty) p(3).toInt else 0,
        if (p.length > 4 && p(4).nonEmpty) p(4) else null,
        if (p.length > 5 && p(5).nonEmpty) p(5) else null)
    }.toSeq

    val facets = all("schema.facet").map { v =>
      val p = v.split("\\|", -1).map(x => if (x.isEmpty) null else x)
      FacetDef(p(0), base = p.lift(1).flatMap(Option(_)).orNull,
        pattern = p.lift(2).flatMap(Option(_)).orNull,
        minInclusive = p.lift(3).flatMap(Option(_)).orNull,
        maxInclusive = p.lift(4).flatMap(Option(_)).orNull)
    }.toSeq

    val cfg = ValidatorConfig(
      documentsPath = one("data.documents").getOrElse(
        if (one("data.bucketedTable").isDefined) ""
        else sys.error(s"$path: data.documents or data.bucketedTable is required")),
      snapshotId = one("data.snapshotId").getOrElse("snapshot-0"),
      checkKeys = {
        val ks = list("checks")
        // default mirrors the reference's default pipeline (no field-type)
        if (ks.isEmpty) Seq("kinds-defined", "classes-defined", "uri-existence",
          "object-range", "domain", "datatype", "cardinality", "some", "only")
        else ks
      },
      schema = SchemaDef(kinds, list("schema.class"), subclasses, restrictions, facets),
      xmlOut = one("output.xml"),
      jsonOut = one("output.json"),
      manifestPath = one("manifest"),
      nBuckets = one("buckets").map(_.toInt).getOrElse(Pipeline.DefaultBuckets),
      fixOut = one("fix.out"),
      bucketedTable = one("data.bucketedTable"),
      deltaPrevDocuments = one("delta.prevDocuments"),
      deltaPrevCore = one("delta.prevCore"),
      profileEnabled = one("profile.enabled").exists(_.toBoolean),
      driftPrevProfile = one("drift.prevProfile")
    )
    // fail FAST on a config that can only fail at the end of the run:
    // drift reads stored profiles, so it needs the profile stage enabled —
    // the late require (after validation, persist and manifest commit)
    // wasted the whole pass (round-8 advice, low)
    require(cfg.driftPrevProfile.isEmpty || cfg.profileEnabled,
      "drift.prevProfile needs profile.enabled=true (drift reads stored profiles)")
    cfg
  }
}
