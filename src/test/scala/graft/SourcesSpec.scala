package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg.{Sources, Model}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("verbatim TSV scan: QUOTE_NONE, backslash escape, ISO-8859-1") {
    val tmp = java.nio.file.Files.createTempDirectory("tsv").toString
    val file = s"$tmp/verbatim.tsv"
    // quote chars must come through verbatim (QUOTE_NONE) and the
    // ISO-8859-1 mojibake byte sequence must round-trip
    val content = "sourceTaxonId\tsourceTaxonName\n" +
      "EOL:1\tsays \"hi\"\n" +
      "ÄŴLOBI:x\tname2\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      content.getBytes("ISO-8859-1"))
    val df = Sources.readVerbatimTsv(spark, file)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "says \"hi\"")
    assert(rows(1).getString(0).endsWith("LOBI:x"))
  }

  test("filtered gzip rewrite keeps only accepted ranks") {
    val tmp = java.nio.file.Files.createTempDirectory("rew").toString
    val df = Seq(("a", "species"), ("b", "genus"), ("c", "clade"))
      .toDF("WdID", "hTaxRank")
    Sources.filterByRank(df, "hTaxRank", Seq("species", "genus"), s"$tmp/out")
    val back = spark.read.option("header", "true").csv(s"$tmp/out")
    assert(back.count() == 2)
    assert(new java.io.File(s"$tmp/out").listFiles()
      .exists(_.getName.endsWith(".csv.gz")))
  }

  test("turtle sink: valid lines, literal escaping, gzip") {
    val tmp = java.nio.file.Files.createTempDirectory("ttl").toString
    val triples = Seq(
      Model.Triple("http://x/s1", "http://x/p", "http://x/o", false, ""),
      Model.Triple("http://x/s2", "http://x/p",
        "line\nbreak \"q\"", true, Model.XSD_STRING),
      Model.Triple("http://x/s3", "http://x/p", "42", true, Model.XSD_INTEGER))
      .toDF()
    Sources.writeTurtle(triples, s"$tmp/g", partitions = 1)
    val lines = spark.read.text(s"$tmp/g").as[String].collect().sorted
    assert(lines.length == 3)
    assert(lines.exists(_ == "<http://x/s1> <http://x/p> <http://x/o> ."))
    assert(lines.exists(_.contains("\"line\\nbreak \\\"q\\\"\"")))
    assert(lines.exists(_.contains(s""""42"^^<${Model.XSD_INTEGER}>""")))
  }

  test("prefixed turtle round-trips the real pipeline triple set") {
    import graft.kg._
    val tmp = java.nio.file.Files.createTempDirectory("ttlp").toString
    // the real GloBI emission output — exercises percent-encoded locals,
    // typed literals, full-IRI fallbacks and the `a` shorthand
    val docs = DataGen.corpus(spark, 120, 4).toDF()
    val records = Extract.records(docs)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val triples = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
    val orig = triples.as[Model.Triple].collect().toSet
    assert(orig.nonEmpty)
    Sources.writeTurtlePrefixed(triples, s"$tmp/g", partitions = 3)
    // every part file leads with the @prefix header (standalone Turtle)
    val parts = new java.io.File(s"$tmp/g").listFiles()
      .filter(_.getName.endsWith(".txt.gz"))
    assert(parts.nonEmpty)
    val firstLine = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(parts.head))
      val line = scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
      in.close(); line
    }
    assert(firstLine.startsWith("@prefix"))
    // abbreviation actually happened
    val text = spark.read.option("lineSep", "\n\n").text(s"$tmp/g")
      .as[String].collect().mkString("\n\n")
    assert(text.contains("emi:") && text.contains("wd:Q") && text.contains(" a "))
    // round trip: parsed triple set == original triple set
    val back = Sources.readTurtle(spark, s"$tmp/g")
      .as[Model.Triple].collect().toSet
    val missing = orig -- back; val extra = back -- orig
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.size}${missing.take(3)} extra=${extra.size}${extra.take(3)}")
  }

  test("prefixed turtle round-trip survives adversarial literals (seeded random)") {
    // escape-hostile literal content: quotes, backslashes, newlines,
    // tabs, the writer's own block separator fragments, typed-literal
    // syntax, unicode — plus IRIs that both abbreviate and fall back to
    // the <full> form
    val rnd = new scala.util.Random(20260816L)
    val litPieces = Seq("\"", "\\", "\n", "\r", "\t", " ;", " .", "^^",
      "\\n", " ;\n", "a", "Ĝ∂", "x y", "<", ">", "%20", "'", "")
    val nsPool = Seq(Model.EMIBOX, Model.EMI, Model.WD,
      "http://example.org/raw path#" /* space → never abbreviated */)
    def randLit(): String =
      (0 until rnd.nextInt(6)).map(_ => litPieces(rnd.nextInt(litPieces.size)))
        .mkString
    def randIri(): String = {
      val ns = nsPool(rnd.nextInt(nsPool.size))
      val local =
        if (rnd.nextBoolean()) s"L${rnd.nextInt(50)}"
        else s"L(${rnd.nextInt(50)})" // parens → PN_LOCAL-invalid → <full>
      ns.replace("raw path", "rawpath") + local
    }
    val dts = Seq(Model.XSD_STRING, Model.XSD_DOUBLE, Model.XSD_INTEGER,
      Model.XSD + "anyURI")
    // numeric-shorthand boundary cases: bare when the lexical recovers
    // the datatype, quoted-typed otherwise
    val numeric = Seq(
      Model.Triple(randIri(), randIri(), "42", true, Model.XSD_INTEGER),
      Model.Triple(randIri(), randIri(), "-7", true, Model.XSD_INTEGER),
      Model.Triple(randIri(), randIri(), "3.0E+4", true, Model.XSD_DOUBLE),
      Model.Triple(randIri(), randIri(), "1e5", true, Model.XSD_DOUBLE),
      Model.Triple(randIri(), randIri(), "42", true, Model.XSD_DOUBLE), // int lexical, double dt → typed form
      Model.Triple(randIri(), randIri(), "1.5", true, Model.XSD_DOUBLE), // no exponent → typed form
      Model.Triple(randIri(), randIri(), "42", true, Model.XSD_STRING)) // plain string "42"
    val triples = ((0 until 300).map { _ =>
      if (rnd.nextBoolean())
        Model.Triple(randIri(), randIri(), randLit(), true,
          dts(rnd.nextInt(dts.size)))
      else Model.Triple(randIri(), randIri(), randIri(), false, "")
    } ++ numeric).distinct
    val df = triples.toDF()
    val tmp = java.nio.file.Files.createTempDirectory("ttlrand").toString
    Sources.writeTurtlePrefixed(df, s"$tmp/g", partitions = 3)
    val back = Sources.readTurtle(spark, s"$tmp/g")
      .as[Model.Triple].collect().toSet
    // plain xsd:string literals read back as xsd:string (the writer's
    // RDF 1.1 plain form) — already the input's form here
    val want = triples.toSet
    val missing = want -- back; val extra = back -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.size}${missing.take(3)} extra=${extra.size}${extra.take(3)}")
  }

  test("csv.gz sink round-trips the matcher output shape") {
    val tmp = java.nio.file.Files.createTempDirectory("csv").toString
    val df = Seq(("EOL:1", "Taxon 1", "Q1001", "NAME-MATCH-YES"))
      .toDF("TaxonId", "TaxonName", "Mapped_ID_WD", "Match_Status")
    Sources.writeCsvGz(df, s"$tmp/out")
    val back = spark.read.option("header", "true").csv(s"$tmp/out")
    assert(back.collect().head.getString(2) == "Q1001")
  }
}
