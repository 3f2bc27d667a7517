package graft.validators

import graft.SparkTestBase
import graft.model.FacetDef
import org.apache.spark.sql.functions.col

/** Cross-check: the JVM-side validators ([[ScalaValidators]], used by the
  * native ValidateSpans expression) agree with the Column validators
  * ([[XsdValidators]], the reference-parity implementation) on randomized
  * and corpus inputs for every datatype.
  */
class ScalaValidatorParitySpec extends SparkTestBase {

  private val samples: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val corpus = Seq(
      "", "0", "1", "-1", "+3", "122", "3.0", "-.3", "0003.0", "3,5",
      "4294967295", "4294967296", "18446744073709551615", "18446744073709551620",
      "-9223372036854775808", "9223372036854775807", "NaN", "INF", "-INF", "NAN",
      "-3E2", "12E", "1997", "1997-07-16T19:20:30.45+01:00", "1997 06 24",
      "2004-04-12T13:20:00Z", "http://datypic.com", "urn:example:org",
      "http://datypic.com#f% rag", "true", "false", "TRUE", "T",
      "0FB8", "0fb8", "FB8", "en", "en-GB", "longerThan8", "myElement",
      "pre:myelement3", "-myelement", "ABCD", "contains a space",
      "This is a string!", "AT&T", "3 < 4", "PB&amp;J", "Family Guy@en",
      "Family Guy@12", "dGhpcyBpcyBhIHRlc3Q=", "dGhpcyBpcyBhIHRlc3Q-",
      // decimal(38,0) precision edge: 38 digits fit, 39 overflow, and
      // leading zeros don't count toward precision
      "9" * 38, "9" * 39, "-" + "9" * 38, "-" + "9" * 39, "0" * 39, "0" * 5 + "1" * 38)
    val fuzz = (0 until 200).map { _ =>
      val len = rnd.nextInt(12)
      (0 until len).map(_ => "0123456789+-.eEazAZ:# @<&".charAt(rnd.nextInt(25))).mkString
    }
    // java.util.regex `$` (and so Spark's rlike) also matches before ONE
    // final line terminator: "en\n", "1\n", "true\r\n", "0FB8\n" ... must
    // get the regex verdict from the hand-written fast and exact paths too;
    // two terminators never match
    val terminated = for {
      v <- corpus
      t <- Seq("\n", "\r\n", "\r", "\u2028", "\u2029", "\u0085", "\n\n", "\n\r")
    } yield v + t
    corpus ++ fuzz ++ terminated
  }

  private def assertParity(name: String, colFn: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column, scalaFn: String => Boolean): Unit = {
    val session = spark
    import session.implicits._
    val colResults = samples.toDF("v").select(colFn(col("v"))).collect()
      .map(r => !r.isNullAt(0) && r.getBoolean(0))
    samples.lazyZip(colResults).foreach { (v, c) =>
      val s = scalaFn(v)
      assert(c == s, s"$name(${escape(v)}): column=$c scala=$s")
    }
  }

  private def escape(v: String): String =
    v.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04x" else c.toString)

  test("ScalaValidators == XsdValidators on corpus + fuzz inputs, all datatypes") {
    XsdValidators.byDatatype.foreach { case (dt, colFn) =>
      assertParity(dt, colFn, ScalaValidators.forDatatype(dt))
    }
  }

  test("ScalaValidators.facet == XsdValidators.facet, numeric and length facets") {
    val facets = Seq(
      graft.datagen.DocGen.schema.facets.head, // dt:score: decimal in [0, 100]
      FacetDef("dt:bounded", base = graft.model.SchemaDef.XSD + "integer",
        minExclusive = "-5", maxExclusive = "5000000000"),
      FacetDef("dt:len", minLength = 2, maxLength = 3))
    facets.foreach(f => assertParity(f.datatype, XsdValidators.facet(f), ScalaValidators.facet(f)))
  }
}
