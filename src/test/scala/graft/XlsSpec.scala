package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.Xls

/** Legacy `.xls` (BIFF8) reader spec. No xls-writing library exists in
  * this sandbox, so the fixtures are handcrafted byte-for-byte from the
  * public BIFF8/CFB layouts — which doubles as an adversarial test of
  * the reader (SST CONTINUE splits, RK/MULRK encodings, both the
  * regular-FAT and mini-FAT stream placements).
  */
class XlsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.getOrCreate("local[4]")

  override def afterAll(): Unit = spark.stop()

  // ---- little-endian emit helpers ------------------------------------
  private def w16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >> 8) & 0xff)
  }
  private def w32(o: ByteArrayOutputStream, v: Long): Unit = {
    w16(o, (v & 0xffff).toInt); w16(o, ((v >> 16) & 0xffff).toInt)
  }
  private def rec(o: ByteArrayOutputStream, typ: Int, body: Array[Byte]): Unit = {
    w16(o, typ); w16(o, body.length); o.write(body)
  }
  private def bytes(f: ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new ByteArrayOutputStream(); f(o); o.toByteArray
  }

  /** BIFF8 workbook: globals (BOF, BOUNDSHEET, SST+CONTINUE, EOF) + one
    * sheet substream exercising LABELSST / NUMBER / RK / MULRK /
    * BOOLERR. SST: "barcode", "collection", and "ZZZZZZZZZZ" split 4+6
    * across a CONTINUE record.
    */
  private def biffWorkbook(): Array[Byte] = {
    val bof = bytes { o =>
      w16(o, 0x0600); w16(o, 0x0005); w16(o, 0); w16(o, 0)
      w32(o, 0); w32(o, 0)
    }
    val bofSheet = bytes { o =>
      w16(o, 0x0600); w16(o, 0x0010); w16(o, 0); w16(o, 0)
      w32(o, 0); w32(o, 0)
    }
    val sstBody = bytes { o =>
      w32(o, 4); w32(o, 3) // total refs, 3 unique strings
      w16(o, 7); o.write(0); o.write("barcode".getBytes("ISO-8859-1"))
      w16(o, 10); o.write(0); o.write("collection".getBytes("ISO-8859-1"))
      w16(o, 10); o.write(0); o.write("ZZZZ".getBytes("ISO-8859-1"))
    }
    val continueBody = bytes { o =>
      o.write(0) // fresh compression flag for the continued chars
      o.write("ZZZZZZ".getBytes("ISO-8859-1"))
    }
    def cell(o: ByteArrayOutputStream, row: Int, col: Int): Unit = {
      w16(o, row); w16(o, col); w16(o, 0) // ixfe = 0
    }
    val sheet = bytes { o =>
      o.write(bytes(rec(_, 0x0809, bofSheet)))
      rec(o, 0x00FD, bytes { b => cell(b, 0, 0); w32(b, 0) }) // A1 barcode
      rec(o, 0x00FD, bytes { b => cell(b, 0, 1); w32(b, 1) }) // B1 collection
      rec(o, 0x00FD, bytes { b => cell(b, 0, 2); w32(b, 2) }) // C1 ZZZZZZZZZZ
      rec(o, 0x00FD, bytes { b => cell(b, 1, 0); w32(b, 0) }) // A2 barcode
      rec(o, 0x0203, bytes { b => // B2 NUMBER 12.5
        cell(b, 1, 1)
        val bits = java.lang.Double.doubleToLongBits(12.5)
        w32(b, bits & 0xFFFFFFFFL); w32(b, (bits >>> 32) & 0xFFFFFFFFL)
      })
      rec(o, 0x027E, bytes { b => // C2 RK: int-coded 42 → (42<<2)|2
        cell(b, 1, 2); w32(b, (42L << 2) | 2L)
      })
      // row 3: A3/B3 via MULRK (int 7, int-div100 name: 1234/100=12.34)
      rec(o, 0x00BD, bytes { b =>
        w16(b, 2); w16(b, 0) // row, colFirst
        w16(b, 0); w32(b, (7L << 2) | 2L)
        w16(b, 0); w32(b, (1234L << 2) | 3L)
        w16(b, 1) // colLast
      })
      rec(o, 0x0205, bytes { b => // C3 BOOLERR true
        cell(b, 2, 2); b.write(1); b.write(0)
      })
      // row 4: A4 label, B4 FORMULA cached-numeric, C4 FORMULA
      // cached-string + following STRING record
      rec(o, 0x00FD, bytes { b => cell(b, 3, 0); w32(b, 1) })
      rec(o, 0x0006, bytes { b => // B4 = 99.25 (cached result)
        cell(b, 3, 1)
        val bits = java.lang.Double.doubleToLongBits(99.25)
        w32(b, bits & 0xFFFFFFFFL); w32(b, (bits >>> 32) & 0xFFFFFFFFL)
        w16(b, 0); w32(b, 0) // grbit, chn
      })
      rec(o, 0x0006, bytes { b => // C4: cached string marker (FF FF)
        cell(b, 3, 2)
        b.write(0); (0 until 5).foreach(_ => b.write(0)); w16(b, 0xFFFF)
        w16(b, 0); w32(b, 0) // grbit, chn
      })
      rec(o, 0x0207, bytes { b => // STRING "calc"
        w16(b, 4); b.write(0); b.write("calc".getBytes("ISO-8859-1"))
      })
      // row 5 (A5 only; B5/C5 stay null)
      rec(o, 0x00FD, bytes { b => cell(b, 4, 0); w32(b, 1) })
      rec(o, 0x000A, Array.emptyByteArray)
    }
    // globals with the real sheet offset patched in
    def globals(sheetOff: Long): Array[Byte] = bytes { o =>
      o.write(bytes(rec(_, 0x0809, bof)))
      rec(o, 0x0085, bytes { b =>
        w32(b, sheetOff); w16(b, 0)
        b.write(6); b.write(0) // cch, compressed
        b.write("sheet1".getBytes("ISO-8859-1"))
      })
      rec(o, 0x00FC, sstBody)
      rec(o, 0x003C, continueBody)
      rec(o, 0x000A, Array.emptyByteArray)
    }
    val glen = globals(0L).length
    bytes { o => o.write(globals(glen.toLong)); o.write(sheet) }
  }

  /** Minimal CFB container around one stream. `mini = true` places the
    * stream in the mini stream (the layout real sub-4KB .xls files
    * use); otherwise it is padded into the regular FAT.
    */
  private def cfb(name: String, data: Array[Byte], mini: Boolean): Array[Byte] = {
    val SS = 512
    val FREE = 0xFFFFFFFFL; val END = 0xFFFFFFFEL; val FATS = 0xFFFFFFFDL
    def sectorsFor(n: Int, unit: Int) = (n + unit - 1) / unit
    val o = new ByteArrayOutputStream()
    def pad(to: Int): Unit = while (o.size() % to != 0) o.write(0)

    // CFB rule: a stream smaller than the 4096 cutoff MUST live in the
    // mini stream — so the regular-FAT fixture zero-pads the BIFF bytes
    // past the cutoff (zeros after the trailing EOF are inert records)
    val fatData =
      if (mini) data
      else data ++ new Array[Byte](math.max(0, 4096 - data.length))
    val (streamSectors, miniSectors) =
      if (mini) (sectorsFor(sectorsFor(data.length, 64) * 64, SS),
        sectorsFor(data.length, 64))
      else (sectorsFor(fatData.length, SS), 0)
    val firstDataSector = if (mini) 3 else 2 // 0 = FAT, 1 = dir, [2 = miniFAT]

    // ---- header ------------------------------------------------------
    w32(o, 0xE011CFD0L); w32(o, 0xE11AB1A1L) // magic
    o.write(new Array[Byte](16)) // clsid
    w16(o, 0x003E); w16(o, 0x0003) // minor, major (v3)
    w16(o, 0xFFFE) // little-endian
    w16(o, 9); w16(o, 6) // sector 512, mini 64
    o.write(new Array[Byte](6))
    w32(o, 0) // num dir sectors (v3: 0)
    w32(o, 1) // num FAT sectors
    w32(o, 1) // first dir sector
    w32(o, 0) // transaction
    w32(o, 4096) // mini cutoff
    w32(o, if (mini) 2L else END) // first miniFAT sector
    w32(o, if (mini) 1L else 0L) // num miniFAT sectors
    w32(o, END); w32(o, 0) // DIFAT chain: none
    w32(o, 0) // DIFAT[0] → FAT at sector 0
    for (_ <- 1 until 109) w32(o, FREE)
    assert(o.size() == 512)

    // ---- sector 0: FAT ----------------------------------------------
    val totalSectors = firstDataSector + streamSectors
    w32(o, FATS) // sector 0 is the FAT itself
    w32(o, END) // sector 1: directory (single)
    if (mini) w32(o, END) // sector 2: miniFAT (single)
    for (s <- firstDataSector until totalSectors) // stream / ministream chain
      w32(o, if (s == totalSectors - 1) END else (s + 1).toLong)
    while (o.size() < 512 + SS) w32(o, FREE)

    // ---- sector 1: directory ----------------------------------------
    def dirEntry(nm: String, typ: Int, start: Long, size: Long): Unit = {
      val n = nm.getBytes("UTF-16LE")
      o.write(n); o.write(new Array[Byte](64 - n.length))
      w16(o, n.length + 2) // name bytes incl. terminator
      o.write(typ); o.write(1) // color
      w32(o, FREE); w32(o, FREE); w32(o, FREE) // siblings/child
      o.write(new Array[Byte](16)); w32(o, 0) // clsid, state
      w32(o, 0); w32(o, 0); w32(o, 0); w32(o, 0) // times
      w32(o, start); w32(o, size); w32(o, 0)
    }
    if (mini)
      dirEntry("Root Entry", 5, firstDataSector.toLong, miniSectors * 64L)
    else dirEntry("Root Entry", 5, END, 0L)
    dirEntry(name, 2, if (mini) 0L else firstDataSector.toLong,
      if (mini) data.length.toLong else fatData.length.toLong)
    dirEntry("", 0, FREE, 0L); dirEntry("", 0, FREE, 0L)
    assert(o.size() == 512 + 2 * SS)

    // ---- sector 2 (mini only): miniFAT ------------------------------
    if (mini) {
      for (s <- 0 until miniSectors)
        w32(o, if (s == miniSectors - 1) END else (s + 1).toLong)
      while (o.size() < 512 + 3 * SS) w32(o, FREE)
    }

    // ---- stream data -------------------------------------------------
    o.write(if (mini) data else fatData)
    if (mini) pad(64)
    pad(SS)
    o.toByteArray
  }

  private def writeTemp(b: Array[Byte]): String = {
    val f = java.io.File.createTempFile("graft", ".xls")
    f.deleteOnExit()
    val out = new FileOutputStream(f); out.write(b); out.close()
    f.getAbsolutePath
  }

  private def checkFrame(path: String): Unit = {
    val sheets = Xls.readSheets(spark, path)
    assert(sheets.keySet == Set("sheet1"))
    val df = sheets("sheet1")
    assert(df.columns.toSeq == Seq("barcode", "collection", "ZZZZZZZZZZ"),
      df.columns.toSeq)
    val rows = df.collect().map(r => (0 until 3).map(r.getString)).toSeq
    assert(rows == Seq(
      Seq("barcode", "12.5", "42"),
      Seq("7", "12.34", "True"),
      Seq("collection", "99.25", "calc"),
      Seq("collection", null, null)), rows)
    assert(Xls.read(spark, path).columns.head == "barcode")
  }

  test("Xls reads BIFF8 cells as strings — regular-FAT container") {
    checkFrame(writeTemp(cfb("Workbook", biffWorkbook(), mini = false)))
  }

  test("Xls reads BIFF8 cells as strings — mini-stream container " +
      "(the real-world layout for small manifests)") {
    checkFrame(writeTemp(cfb("Workbook", biffWorkbook(), mini = true)))
  }

  test("Xls rejects non-CFB bytes") {
    val p = writeTemp("not a workbook at all, just text".getBytes)
    intercept[Exception] { Xls.readSheets(spark, p) }
  }
}
