package graft

import graft.ingest.{Rdf, Turtle}
import graft.model.TableLoader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}
import org.scalatest.funsuite.AnyFunSuite

/** Property-style roundtrips: ARBITRARY literal content through the
  * REAL formatters and back through the REAL parsers. The generators
  * concentrate on escaping hazards (quotes, backslashes, control
  * chars, full unicode) — the classic way formatter and parser drift
  * apart is each handling a slightly different escape set. */
class RoundtripSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkSuite.session

  /** Generated corpus: printable ascii, full unicode, and adversarial
    * escape-heavy strings. Restricted to UTF-8-representable content
    * (Spark's UTF8String replaces unpaired surrogates, which would
    * fail the roundtrip for reasons unrelated to escaping). */
  private lazy val strings: Seq[String] = {
    val gen = Gen.listOfN(400, Gen.frequency(
      4 -> Gen.asciiPrintableStr,
      3 -> Arbitrary.arbitrary[String],
      2 -> Gen.oneOf("\"", "\\", "\\\\", "a\"b\\c", "line1\nline2",
        "\r\n\t", "ends with backslash\\", "\"quoted\"",
        "\\n literal-backslash-n", "tab\there", "é中文")))
    gen.sample.get
      .filter(_.nonEmpty)
      .filter(s => new String(s.getBytes("UTF-8"), "UTF-8") == s)
      .distinct
  }

  /** Infoton frame with one doc per generated string, value in a
    * string field — the store shape the formatters consume. */
  private def frame: DataFrame = {
    import spark.implicits._
    strings.zipWithIndex.map { case (s, i) => (s"/rt/$i", s) }
      .toDF("path", "value")
      .select(
        struct(col("path"), lit("/rt").as("parent"),
          lit(null).cast("timestamp").as("lastModified"),
          lit("t").as("lastModifiedBy"),
          lit(null).cast("string").as("uuid"),
          lit("local").as("dc"), lit(1L).as("indexTime"),
          lit(true).as("current"), lit("ObjectInfoton").as("kind"),
          lit("cmwell").as("protocol")).as("system"),
        map(lit("v"), array(TableLoader.sVal(col("value")))).as("fields"))
  }

  test("ntriples formatter → line parser roundtrips arbitrary literals") {
    import spark.implicits._
    val byPath = frame.select(col("system.path"),
        element_at(col("fields")("v"), 1).getField("s"))
      .as[(String, String)].collect().toMap
    val lines = graft.ops.Formatters.ntriples(frame)
      .as[String].collect()
    assert(lines.length == strings.size)
    lines.foreach { line =>
      val st = Rdf.parseLine(line).getOrElse(
        fail(s"formatter emitted an unparseable line: $line"))
      val path = Rdf.iriToPath(st.subj)
      assert(st.lit.contains(byPath(path)),
        s"literal mismatch for $path: got ${st.lit}")
    }
  }

  /** Lang- and quad-tagged variant of [[frame]] over a char-filtered
    * string set: XML 1.0 forbids control chars below 0x20 entirely and
    * normalizes '\r' in text content (Jena faces the same wall), so
    * the XML-format roundtrips run on the XML-representable subset —
    * the filter is the format's own constraint, not the parser's. */
  private def xmlSafe(s: String): Boolean =
    s.forall(c => c >= 0x20 || c == '\t' || c == '\n') && !s.contains('\r')

  private def taggedFrame(ss: Seq[String]): DataFrame = {
    import spark.implicits._
    ss.zipWithIndex.map { case (s, i) => (s"/rt/$i", s) }
      .toDF("path", "value")
      .select(
        struct(col("path"), lit("/rt").as("parent"),
          lit(null).cast("timestamp").as("lastModified"),
          lit("t").as("lastModifiedBy"),
          lit(null).cast("string").as("uuid"),
          lit("local").as("dc"), lit(1L).as("indexTime"),
          lit(true).as("current"), lit("ObjectInfoton").as("kind"),
          lit("cmwell").as("protocol")).as("system"),
        map(lit("v"), array(TableLoader.sVal(col("value"))
          .withField("lang", lit("en"))
          .withField("quad", lit("/graph/rt")))).as("fields"))
  }

  private def checkStatements(sts: Seq[Rdf.Statement],
                              expect: Map[String, String],
                              what: String): Unit = {
    assert(sts.length == expect.size, s"$what: statement count")
    sts.foreach { st =>
      val path = Rdf.iriToPath(st.subj)
      assert(st.lit.contains(expect(path)),
        s"$what literal mismatch for $path: got ${st.lit}")
      assert(st.lang.contains("en"), s"$what lang lost for $path")
      assert(st.quad.contains("/graph/rt"), s"$what quad lost for $path")
    }
  }

  test("nq and trig formatters roundtrip lang+quad over arbitrary literals") {
    import spark.implicits._
    val expect = strings.zipWithIndex
      .map { case (s, i) => s"/rt/$i" -> s }.toMap
    val f = taggedFrame(strings)
    checkStatements(graft.ops.Formatters.ntriples(f).as[String].collect()
      .map(l => Rdf.parseLine(l).getOrElse(fail(s"unparseable: $l"))),
      expect, "nq")
    checkStatements(graft.ops.Formatters.trig(f).as[String].collect()
      .flatMap(Turtle.parse), expect, "trig")
  }

  test("trix and rdfxml formatters roundtrip lang+quad (XML-safe subset)") {
    import spark.implicits._
    val safe = strings.filter(xmlSafe)
    assert(safe.size > 50) // the generators must actually exercise this
    val expect = safe.zipWithIndex
      .map { case (s, i) => s"/rt/$i" -> s }.toMap
    val f = taggedFrame(safe)
    val (th, tt) = graft.ops.Formatters.trixWrap
    checkStatements(graft.ops.Formatters.trix(f).as[String].collect()
      .flatMap(l => graft.ingest.Trix.parse(th + l + tt)),
      expect, "trix")
    // rdfxml carries no named-graph channel — check lit + lang only
    val (rh, rt) = graft.ops.Formatters.rdfxmlWrap
    val sts = graft.ops.Formatters.rdfxml(f).as[String].collect()
      .flatMap(d => graft.ingest.RdfXml.parse(rh + "\n" + d + "\n" + rt))
    assert(sts.length == expect.size)
    sts.foreach { st =>
      val path = Rdf.iriToPath(st.subj)
      assert(st.lit.contains(expect(path)),
        s"rdfxml literal mismatch for $path: got ${st.lit}")
      assert(st.lang.contains("en"), s"rdfxml lang lost for $path")
    }
  }

  test("ntriples, trig and trix render a sorted Search.search page") {
    import spark.implicits._
    import graft.ops.{Formatters, Search}
    // a parquet-backed store: the optimizer sees a real scan under the
    // page's sort + limit, the shape every served search page has; the
    // XML-safe subset so trix renders the same page as the other two
    val dir = java.nio.file.Files.createTempDirectory("rt_page_").toString
    try {
      taggedFrame(strings.filter(xmlSafe)).write.mode("overwrite")
        .parquet(dir)
      val store = graft.model.GraftStore.fromInfotons(spark,
        spark.read.parquet(dir), Some(Map("v" -> "s")))
      val page = Search.search(store,
        Search.Request(path = "/rt", sortBy = Some("v")), length = 5)
      val pageLits = page.select(col("system.path"),
          element_at(col("fields")("v"), 1).getField("s"))
        .as[(String, String)].collect().toMap
      assert(pageLits.size == 5)
      checkStatements(Formatters.ntriples(page).as[String].collect()
        .map(l => Rdf.parseLine(l).getOrElse(fail(s"unparseable: $l"))),
        pageLits, "ntriples page")
      checkStatements(Formatters.trig(page).as[String].collect()
        .flatMap(Turtle.parse), pageLits, "trig page")
      val (th, tt) = Formatters.trixWrap
      checkStatements(Formatters.trix(page).as[String].collect()
        .flatMap(l => graft.ingest.Trix.parse(th + l + tt)),
        pageLits, "trix page")
    } finally graft.model.GraftStore.rmTree(new java.io.File(dir))
  }

  test("jsonldq formatter roundtrips lang+quad over arbitrary literals") {
    import spark.implicits._
    val expect = strings.zipWithIndex
      .map { case (s, i) => s"/rt/$i" -> s }.toMap
    val f = taggedFrame(strings)
    checkStatements(graft.ops.Formatters.jsonldqDocs(f).as[String]
      .collect().flatMap(graft.ingest.JsonLd.parse),
      expect, "jsonldq")
  }

  test("ttl formatter → Turtle parser roundtrips arbitrary literals") {
    import spark.implicits._
    val byPath = frame.select(col("system.path"),
        element_at(col("fields")("v"), 1).getField("s"))
      .as[(String, String)].collect().toMap
    val docs = graft.ops.Formatters.ttl(frame).as[String].collect()
    assert(docs.length == strings.size)
    docs.foreach { doc =>
      val sts = Turtle.parse(graft.ops.Formatters.ttlHeader + doc)
      assert(sts.length == 1, s"expected 1 statement from: $doc")
      val st = sts.head
      val path = Rdf.iriToPath(st.subj)
      assert(st.lit.contains(byPath(path)),
        s"literal mismatch for $path: got ${st.lit}")
    }
  }
}
