package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Deletes
import graft.sources.Xlsx

class DeletesXlsxSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  test("Deletes.likeToRegex handles %, _ and regex metacharacters") {
    assert(Deletes.likeToRegex("http://a.b/7/%") == "http://a\\.b/7/.*")
    assert(Deletes.likeToRegex("x_y") == "x.y")
    assert(Deletes.likeToRegex("a+b(c)") == "a\\+b\\(c\\)")
  }

  test("Deletes.redcapSyncDelete cascades and keeps shared individuals") {
    import spark.implicits._
    val enc = Seq(
      (1L, 10L, "https://r/p1/rec1/x"),
      (2L, 10L, "https://r/p2/rec2/x"), // same individual as 1
      (3L, 11L, "https://r/p1/rec3/x"))
      .toDF("encounter_id", "individual_id", "identifier")
    val encLoc = Seq((1L, "residence"), (3L, "work"))
      .toDF("encounter_id", "relation")
    val samples = Seq((100L, 1L), (101L, 2L), (102L, 3L))
      .toDF("sample_id", "encounter_id")
    val pa = Seq((1000L, 100L), (1001L, 101L), (1002L, 102L))
      .toDF("presence_absence_id", "sample_id")
    val ind = Seq((10L, "i10"), (11L, "i11")).toDF("individual_id", "name")

    val next = Deletes.redcapSyncDelete(enc, encLoc, samples, pa, ind,
      Seq("https://r/p1/%"))
    assert(next("encounter").collect().map(_.getLong(0)).toSet == Set(2L))
    assert(next("encounter_location").count() == 0)
    assert(next("sample").collect().map(_.getLong(0)).toSet == Set(101L))
    assert(next("presence_absence").collect().map(_.getLong(0)).toSet == Set(1001L))
    // individual 10 survives via encounter 2; individual 11 is orphaned
    assert(next("individual").collect().map(_.getLong(0)).toSet == Set(10L))
  }

  private def minimalXlsx(): Array[Byte] = {
    def entry(zos: ZipOutputStream, name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entry(zos, "xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets>
        |<sheet name="Manifest" r:id="rId1"/>
        |<sheet name="Extra" r:id="rId2"/>
        |</sheets></workbook>""".stripMargin)
    entry(zos, "xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships>
        |<Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    entry(zos, "xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst>
        |<si><t>barcode</t></si><si><t>collection date</t></si>
        |<si><t>AB12CD34</t></si>
        |</sst>""".stripMargin)
    // row1: headers (shared strings 0,1); row2: shared string + number;
    // row3: inline string in col A only (sparse row: B missing)
    entry(zos, "xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>45123</v></c></row>
        |<row r="3"><c r="A3" t="inlineStr"><is><t>ZZ99YY88</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    entry(zos, "xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>note</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    bos.toByteArray
  }

  test("Xlsx.readSheets reads all cells as strings, sparse rows as nulls") {
    val f = java.io.File.createTempFile("graft-test", ".xlsx")
    f.deleteOnExit()
    val out = new FileOutputStream(f)
    out.write(minimalXlsx()); out.close()

    val sheets = Xlsx.readSheets(spark, f.getAbsolutePath)
    assert(sheets.keySet == Set("Manifest", "Extra"))
    val m = sheets("Manifest")
    assert(m.columns.toSeq == Seq("barcode", "collection date"))
    val rows = m.collect().map(r => (r.getString(0), r.getString(1))).toList
    // number stays its stored lexical form; missing cell is null
    assert(rows == List(("AB12CD34", "45123"), ("ZZ99YY88", null)))
    // sheet_name=0 equivalent takes the first sheet in workbook order
    assert(Xlsx.read(spark, f.getAbsolutePath).columns.head == "barcode")
  }

  test("Xlsx.columnIndex decodes A1-style references") {
    assert(Xlsx.columnIndex("A1") == 0)
    assert(Xlsx.columnIndex("B7") == 1)
    assert(Xlsx.columnIndex("Z2") == 25)
    assert(Xlsx.columnIndex("AA10") == 26)
  }

  test("googleDocumentId extracts docs ids; non-Google urls yield None") {
    assert(graft.sources.Sources.googleDocumentId(
      "https://docs.google.com/spreadsheets/d/1BxiMVs0XRA5nFMdKvBdBZjgmUUqptlbs74OgvE2upms/edit#gid=0")
      .contains("1BxiMVs0XRA5nFMdKvBdBZjgmUUqptlbs74OgvE2upms"))
    assert(graft.sources.Sources.googleDocumentId(
      "s3://my-s3-bucket/filepath.xlsx").isEmpty)
    assert(graft.sources.Sources.googleDocumentId("not a url").isEmpty)
  }

  test("readWorkbookCached re-parses only when the digest changes") {
    import graft.sources.Sources
    val f = java.io.File.createTempFile("graft-wb", ".xlsx")
    f.deleteOnExit()
    val out = new FileOutputStream(f)
    out.write(minimalXlsx()); out.close()
    val cache = java.nio.file.Files.createTempDirectory("graft_wbcache").toString

    val (df1, digest1) = Sources.readWorkbookCached(
      spark, f.getAbsolutePath, Some("Manifest"), cache)
    assert(df1.count() == 2)
    // same digest of same bytes; second read is served from the cache
    // (the cached parquet's mtime does not move)
    val dest = new java.io.File(cache, digest1 + "_Manifest")
    val mtime = new java.io.File(dest, "_SUCCESS").lastModified()
    val (df2, digest2) = Sources.readWorkbookCached(
      spark, f.getAbsolutePath, Some("Manifest"), cache)
    assert(digest2 == digest1 && df2.count() == 2)
    assert(new java.io.File(dest, "_SUCCESS").lastModified() == mtime)
    // an etag keys the digest instead of the bytes (the Google branch)
    val (_, digestE) = Sources.readWorkbookCached(
      spark, f.getAbsolutePath, Some("Manifest"), cache, etag = Some("v2"))
    assert(digestE != digest1)
  }
}
