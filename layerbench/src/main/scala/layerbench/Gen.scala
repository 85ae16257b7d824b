package layerbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generator. Every function is pure in its seed: the
  * same seed yields the same rows and byte-identical files. Media
  * bytes are built here from the JDK (ImageIO PNG/JPEG) and from
  * hand-packed container structs, never with the engine's own fixture
  * builders, so the inputs do not move when the engine does.
  */
object Gen {

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def double(): Double = r.nextDouble()
    def gaussian(): Double = {
      // Box-Muller from the split stream, so the sequence is portable
      val u = math.max(r.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
    def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
    }
  }

  /** Independent stream per purpose, so adding draws to one part never
    * shifts another.
    */
  def rng(seed: Long, purpose: String): Rng =
    new Rng(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  // ------------------------------------------------------ star schema

  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ShipModes = IndexedSeq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val EventKinds = IndexedSeq("click", "view", "purchase", "search", "share")
  val PartWords = IndexedSeq("almond", "antique", "aquamarine", "azure", "beige", "bisque",
    "black", "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan", "dark",
    "deep", "dim", "dodger", "drab", "firebrick", "floral", "forest", "frosted", "gainsboro",
    "ghost", "goldenrod", "green", "grey", "honeydew", "hot", "indian", "ivory", "khaki")

  final case class StarSize(customers: Int, suppliers: Int, parts: Int, orders: Int, events: Int)
  val DefaultStar = StarSize(customers = 1500, suppliers = 100, parts = 2000, orders = 15000,
    events = 25000)

  private def money(r: Rng, lo: Int, hi: Int): Double = r.between(lo * 100, hi * 100) / 100.0

  def star(seed: Long, size: StarSize = DefaultStar): Seq[Table] = {
    val r = rng(seed, "star")
    val region = Table("region", StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    val nation = Table("nation", StructType(Seq(
        StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, f"NATION_$i%02d", i % 5)))
    val customer = Table("customer", StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      (1 to size.customers).map(i => Row(i.toLong, f"Customer#$i%06d", r.int(25),
        money(r, -999, 9999), r.pick(Segments))))
    val supplier = Table("supplier", StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (1 to size.suppliers).map(i => Row(i.toLong, f"Supplier#$i%06d", r.int(25),
        money(r, -999, 9999))))
    val part = Table("part", StructType(Seq(
        StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_retailprice", DoubleType))),
      (1 to size.parts).map(i => Row(i.toLong,
        (0 until 5).map(_ => r.pick(PartWords)).mkString(" "),
        s"Brand#${r.between(1, 5)}${r.between(1, 5)}", money(r, 900, 2000))))
    val day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay
    val orders = IndexedSeq.newBuilder[Row]
    val lines = IndexedSeq.newBuilder[Row]
    (1 to size.orders).foreach { o =>
      val nLines = r.between(1, 7)
      var total = 0.0
      (1 to nLines).foreach { ln =>
        val qty = r.between(1, 50)
        val price = money(r, 900, 2000) * qty
        total += price
        lines += Row(o.toLong, ln, r.between(1, size.parts).toLong,
          r.between(1, size.suppliers).toLong, qty, price, r.between(0, 10) / 100.0,
          r.pick(IndexedSeq("A", "N", "R")), r.pick(ShipModes))
      }
      orders += Row(o.toLong, r.between(1, size.customers).toLong,
        r.pick(IndexedSeq("F", "O", "P")), math.round(total * 100) / 100.0,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day0 + r.int(2400))),
        r.pick(Priorities))
    }
    val ordersT = Table("orders", StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType))),
      orders.result())
    val lineitem = Table("lineitem", StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_quantity", IntegerType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_shipmode", StringType))),
      lines.result())
    Seq(region, nation, customer, supplier, part, ordersT, lineitem, events(seed, size.events))
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", IntegerType),
    StructField("kind", StringType), StructField("value", IntegerType)))

  def events(seed: Long, n: Int): Table = {
    val r = rng(seed, "events")
    Table("events", EventSchema,
      (1 to n).map(i => Row(i.toLong, r.int(1000), r.pick(EventKinds), r.int(100))))
  }

  // --------------------------------------------------- csv and excel

  final case class Sale(id: Int, region: String, qty: Int, amount: Double)

  def sales(seed: Long, n: Int = 3000): IndexedSeq[Sale] = {
    val r = rng(seed, "sales")
    val regions = IndexedSeq("north", "south", "east", "west", "central")
    (1 to n).map(i => Sale(i, r.pick(regions), r.between(1, 40), money(r, 1, 500)))
  }

  def salesCsv(rows: Seq[Sale]): Array[Byte] =
    ("id,region,qty,amount\n" +
      rows.map(s => s"${s.id},${s.region},${s.qty},${s.amount}").mkString("\n") + "\n")
      .getBytes(UTF_8)

  /** A one-sheet workbook in the shape spreadsheet tools write: shared
    * strings for the header, inline strings for the body.
    */
  def salesXlsx(rows: Seq[Sale]): Array[Byte] = {
    val header = Seq("id", "region", "qty", "amount")
    def colRef(j: Int): String = ('A' + j).toChar.toString
    val sheet = new StringBuilder
    sheet ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    sheet ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
    sheet ++= """<row r="1">"""
    header.indices.foreach(j => sheet ++= s"""<c r="${colRef(j)}1" t="s"><v>$j</v></c>""")
    sheet ++= "</row>"
    rows.zipWithIndex.foreach { case (s, i) =>
      val rn = i + 2
      sheet ++= s"""<row r="$rn">"""
      Seq(s.id.toString, s.region, s.qty.toString, s.amount.toString).zipWithIndex.foreach {
        case (v, j) => sheet ++= s"""<c r="${colRef(j)}$rn" t="inlineStr"><is><t>$v</t></is></c>"""
      }
      sheet ++= "</row>"
    }
    sheet ++= "</sheetData></worksheet>"
    val shared = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">""" +
      header.map(h => s"<si><t>$h</t></si>").mkString + "</sst>"
    val parts = Seq(
      "[Content_Types].xml" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""),
      "_rels/.rels" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="Sales" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
      "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> sheet.toString)
    val bos = new ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    parts.foreach { case (name, body) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(315532800000L) // fixed entry time: byte-identical archives per seed
      zos.putNextEntry(e)
      zos.write(body.getBytes(UTF_8))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  // ---------------------------------------------------------- corpus

  final case class Doc(id: Long, tokens: IndexedSeq[String]) {
    def text: String = tokens.mkString(" ")
  }

  /** A ×k corpus: `base` documents, `k - 1` perturbed copies of each
    * under offset ids (about a third of the tokens replaced, so copies
    * are related but not near-duplicates), and a planted share of
    * near-duplicates (one token replaced) appended after them.
    * `planted` lists the (original, twin) id pairs.
    */
  final case class Corpus(docs: IndexedSeq[Doc], planted: IndexedSeq[(Long, Long)])

  def vocabulary(seed: Long, n: Int = 3000): IndexedSeq[String] = {
    val r = rng(seed, "vocab")
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n)
      out += (0 until r.between(3, 9)).map(_ => ('a' + r.int(26)).toChar).mkString
    out.toIndexedSeq
  }

  def corpus(seed: Long, base: Int, k: Int, plantedShare: Double,
      firstId: Long = 0L, purpose: String = "corpus"): Corpus = {
    val vocab = vocabulary(seed)
    val r = rng(seed, purpose)
    val originals = (0 until base).map(i =>
      Doc(firstId + i, (0 until r.between(50, 90)).map(_ => r.pick(vocab))))
    val copies = (1 until k).flatMap { j =>
      originals.map(d => Doc(d.id + j.toLong * base,
        d.tokens.map(t => if (r.double() < 0.35) r.pick(vocab) else t)))
    }
    val all = originals ++ copies
    val nPlanted = math.round(all.size * plantedShare).toInt
    val twins = (0 until nPlanted).map { m =>
      val src = all(r.int(all.size))
      val pos = r.int(src.tokens.size)
      Doc(firstId + all.size + m, src.tokens.updated(pos, r.pick(vocab))) -> src.id
    }
    Corpus(all ++ twins.map(_._1), twins.map { case (d, s) => (s, d.id) })
  }

  /** Distinct whitespace 3-shingles, the engine's shingle definition. */
  def shingles(d: Doc, k: Int = 3): Set[String] =
    if (d.tokens.size < k) Set(d.tokens.mkString(" "))
    else d.tokens.sliding(k).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  def embeddings(seed: Long, ids: Seq[Long], dim: Int = 32): IndexedSeq[(Long, Array[Double])] = {
    val r = rng(seed, "embeddings")
    ids.map(id => id -> Array.fill(dim)(r.gaussian())).toIndexedSeq
  }

  // ----------------------------------------------------------- media

  final case class Media(id: Long, kind: String, group: String, bytes: Array[Byte])

  /** A media set: PNG images with planted near-identical twins, WAV
    * clips with gain-scaled twins, MP3-style files whose ID3 APIC frame
    * carries one image's raster, and MJPEG AVI clips. `imageClass`,
    * `audioClass` and `artOf` record the ground truth the checks use.
    */
  final case class MediaSet(items: IndexedSeq[Media], imageClass: Map[Long, Long],
      audioClass: Map[Long, Long], artOf: Map[Long, Long])

  /** A 9×8 grid of distinct gray levels in random order. A difference
    * hash compares neighbouring cells, so unrelated rasters get
    * independent hash bits, and levels at least 3 apart keep a
    * one-pixel change from flipping any.
    */
  private def raster(r: Rng, w: Int, h: Int): Array[Int] = {
    val levels = r.shuffle((0 until 72).map(i => 20 + 3 * i))
    Array.tabulate(w * h) { p =>
      val x = p % w; val y = p / w
      levels((y * 8 / h) * 9 + x * 9 / w)
    }
  }

  private def encode(gray: Array[Int], w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var p = 0
    while (p < gray.length) {
      val g = gray(p)
      img.setRGB(p % w, p / w, (g << 16) | (g << 8) | g)
      p += 1
    }
    javax.imageio.ImageIO.setUseCache(false)
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def be32(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** 16-bit mono PCM WAV. */
  def wav(samples: Array[Int], rate: Int): Array[Byte] = {
    val data = samples.flatMap(s => le16(math.max(-32768, math.min(32767, s))))
    ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(rate) ++ le32(rate * 2) ++
      le16(2) ++ le16(16) ++ ascii("data") ++ le32(data.length) ++ data
  }

  private def clip(r: Rng, n: Int): Array[Int] = {
    // a tone under a random piecewise envelope: envelope changes are
    // what the audio hash sees
    val freq = 200 + r.int(600)
    val env = Array.fill(64)(0.05 + r.double() * 0.9)
    Array.tabulate(n) { i =>
      val e = env(i * env.length / n)
      (e * 12000 * math.sin(2 * math.Pi * freq * i / 8000.0)).toInt
    }
  }

  /** ID3v2.3 tag with one APIC frame, followed by MPEG-looking filler. */
  def id3WithArt(png: Array[Byte]): Array[Byte] = {
    val body = Array[Byte](0) ++ ascii("image/png") ++ Array[Byte](0, 3, 0) ++ png
    val frame = ascii("APIC") ++ be32(body.length) ++ Array[Byte](0, 0) ++ body
    val size = frame.length
    val syncsafe = Array(((size >> 21) & 0x7f).toByte, ((size >> 14) & 0x7f).toByte,
      ((size >> 7) & 0x7f).toByte, (size & 0x7f).toByte)
    ascii("ID3") ++ Array[Byte](3, 0, 0) ++ syncsafe ++ frame ++ Array.fill[Byte](64)(0)
  }

  /** RIFF AVI with a `movi` list of MJPEG `00dc` frames. */
  def aviMjpeg(frames: Seq[Array[Byte]]): Array[Byte] = {
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      ascii(id) ++ le32(body.length) ++ body ++ (if (body.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      ascii("LIST") ++ le32(body.length + 4) ++ ascii(kind) ++ body
    val movi = list("movi", frames.map(f => chunk("00dc", f)).foldLeft(Array.emptyByteArray)(_ ++ _))
    val hdrl = list("hdrl", chunk("avih", new Array[Byte](56)))
    val body = ascii("AVI ") ++ hdrl ++ movi
    ascii("RIFF") ++ le32(body.length) ++ body
  }

  def media(seed: Long, firstId: Long, images: Int, imageTwins: Int, clips: Int,
      clipTwins: Int, arts: Int, videos: Int, purpose: String = "media"): MediaSet = {
    val r = rng(seed, purpose)
    val (w, h) = (72, 64)
    var next = firstId
    def id(): Long = { val v = next; next += 1; v }
    val items = IndexedSeq.newBuilder[Media]
    val imageClass = Map.newBuilder[Long, Long]
    val audioClass = Map.newBuilder[Long, Long]
    val artOf = Map.newBuilder[Long, Long]
    def group(i: Int): String = if (i % 2 == 0) "crawl_a" else "crawl_b"

    val rasters = (0 until images).map(_ => raster(r, w, h))
    val imageIds = rasters.indices.map { i =>
      val iid = id()
      items += Media(iid, "image", group(i), encode(rasters(i), w, h, "png"))
      iid
    }
    (0 until imageTwins).foreach { t =>
      val src = t % images
      val tweaked = rasters(src).clone()
      val p = r.int(tweaked.length)
      tweaked(p) = math.min(255, tweaked(p) + 1)
      val tid = id()
      items += Media(tid, "image", group(t), encode(tweaked, w, h, "png"))
      imageClass += tid -> imageIds(src)
      imageClass += imageIds(src) -> imageIds(src)
    }
    val clipPcm = (0 until clips).map(_ => clip(r, 4000))
    val clipIds = clipPcm.indices.map { i =>
      val cid = id()
      items += Media(cid, "audio", group(i), wav(clipPcm(i), 8000))
      cid
    }
    (0 until clipTwins).foreach { t =>
      val src = t % clips
      val tid = id()
      items += Media(tid, "audio", group(t), wav(clipPcm(src).map(_ / 2), 8000))
      audioClass += tid -> clipIds(src)
      audioClass += clipIds(src) -> clipIds(src)
    }
    (0 until arts).foreach { a =>
      val src = r.int(images)
      val aid = id()
      items += Media(aid, "tagged", group(a), id3WithArt(encode(rasters(src), w, h, "png")))
      artOf += aid -> imageIds(src)
    }
    (0 until videos).foreach { v =>
      val frames = (0 until 4).map(_ => encode(raster(r, 32, 32), 32, 32, "jpg"))
      items += Media(id(), "video", group(v), aviMjpeg(frames))
    }
    MediaSet(items.result(), imageClass.result(), audioClass.result(), artOf.result())
  }

  /** SHA-256 over a canonical serialization of anything generated. */
  def digest(parts: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(be32(p.length)); md.update(p) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def rowBytes(t: Table): Array[Byte] =
    (t.name + "\n" + t.rows.map(_.mkString("\u0001")).mkString("\n")).getBytes(UTF_8)
}
