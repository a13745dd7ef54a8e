package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.Geo
import graft.sources.Sources

class SourcesGeoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_src")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("readCsvAllStrings keeps every cell a string (leading zeros survive)") {
    val path = tmpFile("m.csv", "barcode,count\n0440E5,007\nAB12,42\n")
    val df = Sources.readCsvAllStrings(spark, path)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = df.orderBy("barcode").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("0440E5", "AB12"))
    assert(rows.map(_.getString(1)).toSeq == Seq("007", "42"))
  }

  test("readNdjson keeps the exact document text") {
    val path = tmpFile("d.ndjson", """{"a": 1,  "b":"x"}""" + "\n" + """{"a":2}""" + "\n")
    val df = Sources.readNdjson(spark, path)
    assert(df.orderBy("document").collect().map(_.getString(0)).toSeq
      == Seq("""{"a": 1,  "b":"x"}""", """{"a":2}"""))
  }

  test("readShapefile parses point + polygon records into GeoJSON rows") {
    import java.nio.{ByteBuffer, ByteOrder}
    // record 1: Point(1.5, 2.5); record 2: Polygon, 1 ring, unit square
    val ring = Seq((0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0))
    val ptContent = 4 + 16 // type + xy
    val polyContent = 4 + 32 + 4 + 4 + 4 + ring.length * 16
    val total = 100 + (8 + ptContent) + (8 + polyContent)
    val buf = ByteBuffer.allocate(total)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994)
    buf.putInt(24, total / 2) // file length in 16-bit words
    buf.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 5)
    var p = 100
    buf.order(ByteOrder.BIG_ENDIAN).putInt(p, 1).putInt(p + 4, ptContent / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
      .putInt(p + 8, 1).putDouble(p + 12, 1.5).putDouble(p + 20, 2.5)
    p += 8 + ptContent
    buf.order(ByteOrder.BIG_ENDIAN).putInt(p, 2).putInt(p + 4, polyContent / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN).putInt(p + 8, 5)
    buf.putInt(p + 44, 1).putInt(p + 48, ring.length).putInt(p + 52, 0)
    ring.zipWithIndex.foreach { case ((x, y), i) =>
      buf.putDouble(p + 56 + 16 * i, x).putDouble(p + 64 + 16 * i, y)
    }
    val dir = Files.createTempDirectory("graft_shp")
    Files.write(dir.resolve("locations.shp"), buf.array())
    val df = Sources.readShapefile(spark, dir.toString).orderBy("record")
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("geometry_type") == "Point")
    assert(rows(0).getAs[String]("geometry_json")
      == """{"type":"Point","coordinates":[1.5,2.5]}""")
    assert(rows(1).getAs[String]("geometry_type") == "Polygon")
    assert(rows(1).getAs[String]("geometry_json")
      == """{"type":"Polygon","coordinates":[[[0,0],[0,4],[4,4],[4,0],[0,0]]]}""")
    // parsed geometry flows into the same geo predicates as GeoJSON
    val parsedRing = Geo.ringFromCoords(element_at(
      from_json(get_json_object(col("geometry_json"), "$.coordinates"),
        org.apache.spark.sql.types.DataTypes.createArrayType(
          org.apache.spark.sql.types.DataTypes.createArrayType(
            org.apache.spark.sql.types.DataTypes.createArrayType(
              org.apache.spark.sql.types.DataTypes.DoubleType)))), 1))
    val inside = df.filter(col("geometry_type") === "Polygon")
      .select(Geo.pointInPolygon(lit(2.0), lit(2.0), parsedRing))
      .head().getBoolean(0)
    assert(inside)
  }

  test("readGeoJson explodes features with geometry kept as JSON") {
    val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"name":"p1","scale":"tract"},
       "geometry":{"type":"Point","coordinates":[1.5,2.5]}},
      {"type":"Feature","properties":{"name":"p2","scale":"tract"},
       "geometry":{"type":"Point","coordinates":[3.0,4.0]}}]}"""
    val df = Sources.readGeoJson(spark, tmpFile("f.geojson", gj))
    assert(df.count() == 2)
    val r = df.orderBy(col("properties.name")).head()
    assert(r.getAs[org.apache.spark.sql.Row]("properties").getAs[String]("name") == "p1")
    assert(r.getAs[String]("geometry_type") == "Point")
    assert(r.getAs[String]("geometry_json").contains("1.5"))
  }

  test("fastqReadSets groups files into url arrays per sample") {
    val dir = Files.createTempDirectory("graft_fastq")
    Seq("101_R1.fastq.gz", "101_R2.fastq.gz", "202_R1.fastq.gz", "ignore.txt")
      .foreach(f => Files.writeString(dir.resolve(f), "x"))
    val df = Sources.fastqReadSets(spark, dir.toString)
    val rows = df.orderBy("sample").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("101", "202"))
    assert(rows.head.getSeq[String](1).size == 2)
  }

  test("cachedLookup splits hits and misses") {
    import spark.implicits._
    val input = Seq("a", "b", "c").toDF("k")
    val cache = Seq(("a", 1), ("c", 3)).toDF("k", "v")
    val (hits, misses) = Sources.cachedLookup(input, cache, "k")
    assert(hits.count() == 2 && misses.count() == 1)
    assert(misses.head().getString(0) == "b")
  }

  test("ttlCachedLookup expires old entries; refresh restamps and evicts") {
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2026-08-12 12:00:00")
    val old = java.sql.Timestamp.valueOf("2026-08-12 10:00:00") // 2h ago
    val recent = java.sql.Timestamp.valueOf("2026-08-12 11:30:00")
    val input = Seq("a", "b", "c").toDF("k")
    val cache = Seq(("a", 1, recent), ("b", 2, old)).toDF("k", "v", "cached_at")
    // ttl 1h: "b" is expired → miss
    val (hits, misses) = Sources.ttlCachedLookup(input, cache, "k", 3600L, now)
    assert(hits.select("k").collect().map(_.getString(0)).toSet == Set("a"))
    assert(misses.select("k").collect().map(_.getString(0)).toSet == Set("b", "c"))
    // refresh: resolved b,c stamped now; a kept; old b dropped
    val resolved = Seq(("b", 20), ("c", 30)).toDF("k", "v")
    val next = Sources.refreshTtlCache(cache, resolved, "k", 3600L, now)
    val byKey = next.collect().map(r => r.getString(0) ->
      (r.getInt(1), r.getTimestamp(2))).toMap
    assert(byKey.keySet == Set("a", "b", "c"))
    assert(byKey("b") == ((20, now)) && byKey("c") == ((30, now)))
    assert(byKey("a") == ((1, recent)))
    // maxSize 2 evicts the oldest surviving entry ("a")
    val capped = Sources.refreshTtlCache(cache, resolved, "k", 3600L, now, maxSize = 2)
    assert(capped.collect().map(_.getString(0)).toSet == Set("b", "c"))
  }

  test("pointInPolygon: unit square and concave polygon") {
    import spark.implicits._
    val square = Seq((Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)),
      1.0, 1.0, true),
      (Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)), 3.0, 1.0, false),
      // concave "L": (2.5, 2.5) sits in the notch, outside
      (Seq((0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (2.0, 2.0), (2.0, 4.0), (0.0, 4.0),
        (0.0, 0.0)), 2.5, 2.5, false),
      (Seq((0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (2.0, 2.0), (2.0, 4.0), (0.0, 4.0),
        (0.0, 0.0)), 1.0, 3.0, true))
      .toDF("pts", "x", "y", "expected")
      .withColumn("ring", transform(col("pts"),
        p => struct(p.getField("_1").as("x"), p.getField("_2").as("y"))))
    val r = square.withColumn("inside", Geo.pointInPolygon(col("x"), col("y"), col("ring")))
      .filter(col("inside") =!= col("expected"))
    assert(r.count() == 0)
  }

  test("ringCentroid drops the closing vertex") {
    import spark.implicits._
    val df = Seq(Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)))
      .toDF("pts")
      .withColumn("ring", transform(col("pts"),
        p => struct(p.getField("_1").as("x"), p.getField("_2").as("y"))))
      .select(Geo.ringCentroid(col("ring")).as("c"))
    val c = df.head().getStruct(0)
    assert(c.getDouble(0) == 1.0 && c.getDouble(1) == 1.0)
  }

  test("GeoJSON ring → containment end-to-end") {
    import spark.implicits._
    val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"name":"sq"},
       "geometry":{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}}]}"""
    val feats = Sources.readGeoJson(spark, tmpFile("poly.geojson", gj))
      .withColumn("ring", Geo.ringFromCoords(
        from_json(col("geometry_json"), org.apache.spark.sql.types.DataTypes
          .createStructType(Array(org.apache.spark.sql.types.DataTypes.createStructField(
            "coordinates",
            org.apache.spark.sql.types.DataTypes.createArrayType(
              org.apache.spark.sql.types.DataTypes.createArrayType(
                org.apache.spark.sql.types.DataTypes.createArrayType(
                  org.apache.spark.sql.types.DoubleType))), true))))
          .getField("coordinates").getItem(0)))
    val inside = feats.select(Geo.pointInPolygon(lit(1.0), lit(1.0), col("ring")).as("in"))
    assert(inside.head().getBoolean(0))
  }
}
