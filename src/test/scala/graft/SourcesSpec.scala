package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AbrXml, CrawlParse}

/** XML ingestion (S1) + Common Crawl HTML parse chain (S2–S5) over
  * in-repo fixtures (FIXTURES.md B1/B2) — network stays out of tests. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private val abrXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<Transfer>
      |<ABR recordLastUpdatedDate="20240101">
      |  <ABN status="Active" ABNStatusFromDate="20190401">51824753556</ABN>
      |  <EntityType><EntityTypeCode>PRV</EntityTypeCode>
      |    <EntityTypeText>Australian Private Company</EntityTypeText></EntityType>
      |  <MainEntity>
      |    <NonIndividualName type="MN">
      |      <NonIndividualNameText>Harbour Mining Group Pty Ltd</NonIndividualNameText>
      |    </NonIndividualName>
      |    <BusinessAddress><AddressDetails>
      |      <State>NSW</State><Postcode>2000</Postcode>
      |    </AddressDetails></BusinessAddress>
      |  </MainEntity>
      |</ABR>
      |<ABR recordLastUpdatedDate="20240102">
      |  <ABN status="Cancelled" ABNStatusFromDate="20000301">99999999999</ABN>
      |  <EntityType><EntityTypeCode>IND</EntityTypeCode>
      |    <EntityTypeText>Individual</EntityTypeText></EntityType>
      |  <MainEntity>
      |    <NonIndividualName type="MN">
      |      <NonIndividualNameText>Wattle Consulting</NonIndividualNameText>
      |    </NonIndividualName>
      |    <BusinessAddress><AddressDetails>
      |      <State>VIC</State><Postcode>3000</Postcode>
      |    </AddressDetails></BusinessAddress>
      |  </MainEntity>
      |</ABR>
      |</Transfer>""".stripMargin

  test("S1: ABR XML rowTag streaming scan + nested-field projection") {
    val dir = Files.createTempDirectory("abrxml")
    Files.writeString(dir.resolve("part1.xml"), abrXml)
    val staged = AbrXml.toStaging(AbrXml.read(spark, dir.toString + "/*.xml"))
      .orderBy("abn").collect()
    assert(staged.length == 2)
    val r = staged.head
    assert(r.getAs[String]("abn") == "51824753556")
    assert(r.getAs[String]("entity_name") == "Harbour Mining Group Pty Ltd")
    assert(r.getAs[String]("entity_type") == "Australian Private Company")
    assert(r.getAs[String]("entity_status") == "Active")
    assert(r.getAs[String]("address") == "NSW 2000")
    assert(r.getAs[String]("postcode") == "2000")
    assert(r.getAs[java.sql.Date]("start_date").toString == "2019-04-01")
  }

  test("S1: postcodes keep their leading zero (NT 0800, ACT 0200)") {
    // digit-only text everywhere: an inferred schema would type Postcode
    // as a number and land "800"
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<Transfer>
        |<ABR><ABN status="Active" ABNStatusFromDate="20190401">51824753556</ABN>
        |  <EntityType><EntityTypeText>Company</EntityTypeText></EntityType>
        |  <MainEntity><NonIndividualName>
        |    <NonIndividualNameText>Top End Traders</NonIndividualNameText>
        |  </NonIndividualName><BusinessAddress><AddressDetails>
        |    <State>NT</State><Postcode>0800</Postcode>
        |  </AddressDetails></BusinessAddress></MainEntity>
        |</ABR>
        |<ABR><ABN status="Active" ABNStatusFromDate="20190401">53004085616</ABN>
        |  <EntityType><EntityTypeText>Company</EntityTypeText></EntityType>
        |  <MainEntity><NonIndividualName>
        |    <NonIndividualNameText>Capital Works</NonIndividualNameText>
        |  </NonIndividualName><BusinessAddress><AddressDetails>
        |    <State>ACT</State><Postcode>0200</Postcode>
        |  </AddressDetails></BusinessAddress></MainEntity>
        |</ABR>
        |</Transfer>""".stripMargin
    val dir = Files.createTempDirectory("abrxml-pc")
    Files.writeString(dir.resolve("p.xml"), xml)
    val got = AbrXml.toStaging(AbrXml.read(spark, dir.toString + "/*.xml"))
      .orderBy("abn").collect()
    assert(got.map(_.getAs[String]("postcode")).toSeq == Seq("0800", "0200"))
    assert(got.map(_.getAs[String]("address")).toSeq == Seq("NT 0800", "ACT 0200"))
  }

  test("S1: reading is lazy; landing parses the XML in one job") {
    val dir = Files.createTempDirectory("abrxml-jobs")
    Files.writeString(dir.resolve("part1.xml"), abrXml)
    val (staged, read) = Profile.during(spark)(
      AbrXml.toStaging(AbrXml.read(spark, dir.toString + "/*.xml")))
    assert(read.jobs == 0) // no schema-inference pass
    val (_, land) = Profile.during(spark)(
      staged.write.format("noop").mode("overwrite").save())
    assert(land.jobs == 1)
  }

  test("S5: the page text is computed once per page") {
    import spark.implicits._
    // a file scan, so the optimizer cannot fold the parse into a local table
    val dir = Files.createTempDirectory("pages").toString + "/p"
    Seq(("https://www.harbourmining.com.au/about", html)).toDF("url", "html")
      .write.parquet(dir)
    val pages = spark.read.parquet(dir)
    val plan = CrawlParse.parse(pages).queryExecution.executedPlan.toString
    // htmlText's script/style strip, once, below its consumers
    assert("\\(script\\|style\\)".r.findAllMatchIn(plan).size == 1, plan)
  }

  private val html =
    """<html><head><title> Harbour Mining — Official Site </title>
      |<script type="application/ld+json">{"@type":"Organization","name":"Harbour Mining"}</script>
      |</head><body>
      |<style>.x { color: red }</style>
      |<script>var ignored = "02 0000 0000";</script>
      |<h1>Harbour   Mining Group</h1>
      |<p>ABN: 51 824 753 556. Call 02 9876 5432 or email info@harbourmining.com.au.</p>
      |<p>Visit us in Sydney NSW 2000.</p>
      |</body></html>""".stripMargin

  test("S5: HTML field extraction chain (F1-F8, F15)") {
    import spark.implicits._
    val pages = Seq(("https://www.harbourmining.com.au/about", html),
      ("https://empty.com.au/", "")).toDF("url", "html")
    val parsed = CrawlParse.parse(pages).collect()
    assert(parsed.length == 1) // P3: empty html dropped
    val r = parsed.head
    assert(r.getAs[String]("domain") == "harbourmining.com.au")
    assert(r.getAs[String]("company_name") == "Harbourmining")
    assert(r.getAs[String]("abn") == "51824753556")
    assert(r.getAs[String]("title") == "Harbour Mining — Official Site")
    assert(r.getAs[scala.collection.Seq[String]]("emails").toSeq ==
      Seq("info@harbourmining.com.au"))
    assert(r.getAs[scala.collection.Seq[String]]("phones").toSeq ==
      Seq("02 9876 5432"))
    // first postcode-shaped match wins (commoncrawl_scraper.py:65-67) —
    // here the phone number's "9876" precedes the real postcode, exactly
    // as the reference would extract it
    assert(r.getAs[String]("postcode") == "9876")
    assert(r.getAs[String]("structured_data").contains("Organization"))
    assert(r.getAs[String]("snippet").contains("Harbour Mining Group"))
    // script/style content must NOT leak into text-derived fields
    assert(!r.getAs[String]("snippet").contains("ignored"))
    assert(!r.getAs[String]("snippet").contains("color"))
  }

  test("S1 robustness: ABR rows with missing optional elements yield nulls") {
    val sparse =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<Transfer>
        |<ABR><ABN status="Active">51824753556</ABN>
        |  <EntityType><EntityTypeText>Company</EntityTypeText></EntityType>
        |  <MainEntity><NonIndividualName>
        |    <NonIndividualNameText>No Address Co</NonIndividualNameText>
        |  </NonIndividualName></MainEntity>
        |</ABR>
        |</Transfer>""".stripMargin
    val dir = Files.createTempDirectory("abrxml-sparse")
    Files.writeString(dir.resolve("p.xml"), sparse)
    val got = AbrXml.toStaging(AbrXml.read(spark, dir.toString + "/*.xml"))
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("abn") == "51824753556")
    assert(r.getAs[String]("entity_name") == "No Address Co")
    assert(r.getAs[String]("address") == null)     // no BusinessAddress
    assert(r.getAs[String]("postcode") == null)
    assert(r.getAs[java.sql.Date]("start_date") == null) // no status date
  }

  test("S5 robustness: pathological HTML (no title, unclosed tags)") {
    import spark.implicits._
    val bad = "<html><body><p>just text, ABN: 51 824 753 556 <div>unclosed"
    val pages = Seq(("https://x.com.au/", bad)).toDF("url", "html")
    val r = CrawlParse.parse(pages).collect().head
    assert(r.getAs[String]("title") == "")          // missing title → empty
    assert(r.getAs[String]("abn") == "51824753556") // extraction still works
    assert(r.getAs[String]("structured_data") == "[]") // no ld+json
  }

  test("S2-S5 composition: index -> fetch -> parse in one DAG") {
    import spark.implicits._
    val index = Seq(("https://www.acme.com.au/", "w.gz", 0L, 10L))
      .toDF("url", "warc_filename", "offset", "length")
    // local copy: the fetcher closure must not capture the (non-serializable)
    // suite instance
    val page = html
    val fetcher = new CrawlParse.Fetcher {
      override def fetch(f: String, off: Long, len: Long): String = page
    }
    val staged = CrawlParse.ingest(index, fetcher).collect()
    assert(staged.length == 1)
    assert(staged.head.getAs[String]("domain") == "acme.com.au")
    assert(staged.head.getAs[String]("abn") == "51824753556")
  }

  test("S4: fetch stage runs per-partition with an injected fetcher") {
    import spark.implicits._
    val index = Seq(
      ("https://a.com.au/", "warc1.gz", 100L, 50L),
      ("https://b.com.au/", "warc1.gz", 900L, 70L))
      .toDF("url", "warc_filename", "offset", "length")
    val fetcher = new CrawlParse.Fetcher {
      override def fetch(f: String, off: Long, len: Long): String =
        s"<html><title>$f@$off+$len</title></html>"
    }
    val got = CrawlParse.fetchPages(index, fetcher).orderBy("url").collect()
    assert(got.length == 2)
    assert(got.head.getString(1).contains("warc1.gz@100+50"))
  }
}
