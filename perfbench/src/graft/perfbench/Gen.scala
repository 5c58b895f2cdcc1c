package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generator. Every file is a pure function of (seed, shape
  * arguments): the same seed writes byte-identical files. The engine only
  * ever sees these files.
  *
  * Order exports follow the reference export's shape and carry the same
  * injected mess as `graft.etl.ReferenceShapedData` (each exercises one
  * cleaning rule): garbage `submitTime` on line 7, blank platform when
  * order % 50 = 0, blank `masterSku` when product % 97 = 0, junk `State`
  * when customer % 7 = 3, junk `goodsNumber` when quantity > 45. */
object Gen {

  final case class Sizes(rows: Long, bytes: Long)

  val OrderCols: Seq[String] = Seq("orderNo", "orderType", "commercePlatform",
    "name", "country", "city", "postalCode", "State", "oneAddress", "email",
    "masterSku", "sku", "submitTime", "createTime", "goodsNumber", "trackNo",
    "remarks")

  val Platforms: Seq[String] = Seq("Amazon", "Wayfair", "Walmart", "eBay", "HomeDepot")
  val Years: Seq[Int] = Seq(2022, 2023, 2024)
  val Categories: Seq[String] = Seq("Furniture", "Outdoor & Garden", "Automotive",
    "Lighting", "Storage & Organization", "Other")

  private val States = Seq("CA", "TX", "NY", "FL", "WA", "IL", "PA", "OH", "GA", "NC",
    "MI", "NJ", "VA", "AZ", "MA", "TN", "IN", "MO", "MD", "WI", "CO", "MN", "SC",
    "AL", "LA", "KY", "OR", "OK", "CT", "UT")
  private val Cities = Seq("Springfield", "Riverside", "Franklin", "Greenville",
    "Clinton", "Salem", "Madison", "Georgetown", "Arlington", "Fairview")
  private val SkuPrefixes = Seq("CN1139", "CN", "NB", "HZ", "SZ", "HIFINE", "XT", "LM", "QP")
  private val Nouns = Seq("sofa", "accent chair", "dining table", "storage bench",
    "mattress", "cabinet", "bed frame", "coffee table", "tv stand", "wardrobe",
    "dresser", "nightstand", "bookshelf", "kids desk", "loveseat", "recliner",
    "ottoman", "daybed", "futon", "sectional", "console table", "gazebo",
    "pergola", "patio set", "garden planter", "fire pit", "umbrella", "bbq grill",
    "hammock swing", "pool cover", "rear bumper diffuser", "running boards",
    "car spoiler", "led panel light", "wafer light", "loading ramp",
    "storage rack", "spare wheel", "mounting plate", "metal roof shed")
  private val Adjectives = Seq("Modern", "Rustic", "Classic", "Compact", "Deluxe",
    "Outdoor", "Foldable", "Premium", "Vintage", "Heavy Duty")
  private val Remarks = Seq("", "", "", "leave at door", "fragile, handle with care",
    "call \"before\" delivery", "gift")

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private final class Csv(path: String) {
    private val f = new File(path)
    f.getParentFile.mkdirs()
    private val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    var rows = 0L
    def row(fields: Seq[String], header: Boolean = false): Unit = {
      var i = 0
      fields.foreach { s =>
        if (i > 0) w.write(',')
        if (s.exists(ch => ch == ',' || ch == '"' || ch == '\n'))
          w.write("\"" + s.replace("\"", "\"\"") + "\"")
        else w.write(s)
        i += 1
      }
      w.write('\n')
      if (!header) rows += 1
    }
    def close(): Sizes = { w.close(); Sizes(rows, f.length()) }
  }

  def masterSku(p: Int): String =
    s"${SkuPrefixes(p % SkuPrefixes.size)}-${10000 + p}"

  /** One order-export CSV: orders [orderLo, orderLo + nOrders), 1-7 lines
    * each, customers drawn from [0, nCustomers), products from
    * [0, nProducts) with a skew toward low ids. */
  def orders(path: String, seed: Long, salt: Long, orderLo: Int, nOrders: Int,
             nCustomers: Int, nProducts: Int): Sizes = {
    val r = rng(seed, salt)
    val out = new Csv(path)
    out.row(OrderCols, header = true)
    val day0 = java.time.LocalDate.of(Years.head, 1, 1).toEpochDay
    val nDays = (java.time.LocalDate.of(Years.last, 12, 31).toEpochDay - day0 + 1).toInt
    var o = orderLo
    while (o < orderLo + nOrders) {
      val c = r.nextInt(nCustomers)
      val platform = if (o % 50 == 0) "" else Platforms(r.nextInt(Platforms.size))
      val state =
        if (c % 7 == 3) "not a state"
        else if (c % 11 == 5) s" ${States(c % States.size).toLowerCase} "
        else States(c % States.size)
      val date = java.time.LocalDate.ofEpochDay(day0 + r.nextInt(nDays))
      val secs = r.nextInt(86400)
      val ts = f"$date ${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"
      val lines = 1 + r.nextInt(7)
      var l = 1
      while (l <= lines) {
        val p = math.min(nProducts - 1, (nProducts * math.pow(r.nextDouble(), 1.6)).toInt)
        val qty = 1 + r.nextInt(50)
        out.row(Seq(
          s"ORD-$o-$l", if (o % 3 == 0) "B2B" else "B2C", platform,
          f"Customer#$c%09d", "US", Cities(c % Cities.size),
          f"${c % 100000}%05d", state, s"ADDR_$c", s"c$c@example.com",
          if (p % 97 == 0) " " else masterSku(p), s"ALT-$p",
          if (l == 7) "garbage" else ts, ts,
          if (qty > 45) "junk" else qty.toString,
          s"TRK${o}X$l", Remarks(r.nextInt(Remarks.size))))
        l += 1
      }
      o += 1
    }
    out.close()
  }

  /** Product master: every product id with a master SKU, a name built from
    * keywords the taxonomy rules match, and reference-style headers. */
  def productMaster(path: String, seed: Long, nProducts: Int): Sizes = {
    val r = rng(seed, 7)
    val out = new Csv(path)
    out.row(Seq("mainSkuCode", "English Name", "Chinese Name", "Customer Code"),
      header = true)
    (0 until nProducts).filter(_ % 97 != 0).foreach { p =>
      val noun = Nouns(r.nextInt(Nouns.size))
      out.row(Seq(masterSku(p),
        s"${Adjectives(r.nextInt(Adjectives.size))} ${noun.split(' ').map(_.capitalize).mkString(" ")}",
        s"产品$p", f"CUST${r.nextInt(500)}%04d"))
    }
    out.close()
  }

  // ---------------------------------------------------------------- corpus

  val StopwordsByLang: Seq[(String, Seq[String])] = graft.functions.TextExprs.langStopwords
    .filter(_._1 != "zh")

  /** 4,000 pronounceable content words, fixed across seeds. */
  val Vocab: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Array("a", "e", "i", "o", "u")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val r = new SplittableRandom(4242L)
    while (seen.size < 4000) {
      val n = 2 + r.nextInt(2)
      seen += (0 until n).map(_ => on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString
    }
    seen.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }
  private def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    Vocab(math.min(Vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  /** Corpus of `nBase` documents plus injected duplicates, and one unit
    * embedding per document.
    *
    * docs.csv: doc_id, text, n_chars, source. 80% English, the rest German,
    * Spanish or French (stopword-marked, so the language gate drops them).
    * Injected per base doc: 8% exact copies, 8% case/whitespace edits
    * (same fingerprint), 12% word swaps or deletions (near-duplicates).
    *
    * vecs.csv: vec_id (= doc_id), embedding as `;`-separated floats. Docs
    * share a topic centroid in groups; a duplicate's vector is its
    * source's plus small noise. */
  def corpus(docsPath: String, vecsPath: String, seed: Long, nBase: Int,
             dim: Int): (Sizes, Sizes) = {
    val r = rng(seed, 11)
    val docs = new Csv(docsPath)
    val vecs = new Csv(vecsPath)
    docs.row(Seq("doc_id", "text", "n_chars", "source"), header = true)
    vecs.row(Seq("vec_id", "embedding"), header = true)
    val nTopics = 64
    val topics = Array.fill(nTopics)(unit(Array.fill(dim)(r.nextDouble() * 2 - 1)))
    var nextId = 0L
    def emit(text: String, v: Array[Double], src: Int): Unit = {
      docs.row(Seq(nextId.toString, text, text.length.toString, s"src$src"))
      vecs.row(Seq(nextId.toString, v.map(x => x.toFloat.toString).mkString(";")))
      nextId += 1
    }
    var b = 0
    while (b < nBase) {
      val langIx = r.nextInt(20) match {
        case x if x < 16 => 0
        case 16 | 17 => 1
        case 18 => 2
        case _ => 3
      }
      val toks = words(r, StopwordsByLang(langIx)._2)
      val text = toks.mkString(" ")
      val v = unit(topics(r.nextInt(nTopics)).map(_ + (r.nextDouble() * 2 - 1) * 0.35))
      val src = r.nextInt(8)
      emit(text, v, src)
      val u = r.nextDouble()
      if (u < 0.08) emit(text, jitter(v, r), src)
      else if (u < 0.16) emit(caseEdit(toks, r), jitter(v, r), src)
      else if (u < 0.28) emit(wordEdit(toks, r), jitter(v, r), src)
      b += 1
    }
    (docs.close(), vecs.close())
  }

  /** A crawl drop of `n` new English documents, ids from `idLo` (same
    * columns as docs.csv). */
  def deltaDocs(path: String, seed: Long, salt: Long, idLo: Long, n: Int): Sizes = {
    val r = rng(seed, 1000 + salt)
    val docs = new Csv(path)
    docs.row(Seq("doc_id", "text", "n_chars", "source"), header = true)
    (0 until n).foreach { j =>
      val text = words(r, StopwordsByLang.head._2).mkString(" ")
      docs.row(Seq((idLo + j).toString, text, text.length.toString, "drop"))
    }
    docs.close()
  }

  /** 40-129 tokens: a quarter stopwords of one language, the rest drawn
    * from the vocabulary with a Zipf-like skew. */
  private def words(r: SplittableRandom, stop: Seq[String]): Array[String] =
    Array.tabulate(40 + r.nextInt(90))(_ =>
      if (r.nextInt(4) == 0) stop(r.nextInt(stop.size)) else word(r))

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  private def jitter(v: Array[Double], r: SplittableRandom): Array[Double] =
    unit(v.map(_ + (r.nextDouble() * 2 - 1) * 0.01))
  private def caseEdit(toks: Array[String], r: SplittableRandom): String =
    toks.map(t => if (r.nextInt(5) == 0) t.toUpperCase else t)
      .mkString(if (r.nextBoolean()) "  " else " \t ") + " "
  private def wordEdit(toks: Array[String], r: SplittableRandom): String = {
    val t = toks.toBuffer
    if (r.nextBoolean()) { val i = r.nextInt(t.size - 1); val x = t(i); t(i) = t(i + 1); t(i + 1) = x }
    else t.remove(r.nextInt(t.size))
    t.mkString(" ")
  }

  /** BM25 probe batches: `nBatches` x `perBatch` probes of 2-4 terms drawn
    * from the mid-frequency band of the vocabulary. */
  def bm25Probes(seed: Long, nBatches: Int, perBatch: Int): Seq[Seq[(Long, Seq[String])]] = {
    val r = rng(seed, 13)
    (0 until nBatches).map { bt =>
      (0 until perBatch).map { i =>
        val terms = (0 until 2 + r.nextInt(3)).map(_ => Vocab(20 + r.nextInt(600))).distinct
        ((bt * perBatch + i).toLong, terms)
      }
    }
  }

  /** ANN probe batches: perturbed copies of corpus vectors, ids offset past
    * the corpus so no probe is excluded as a self-match. Vectors are read
    * back from `vecsPath`, so probes are a pure function of the seed. */
  def annProbes(seed: Long, vecsPath: String, nBatches: Int,
                perBatch: Int): Seq[Seq[(Long, Array[Float])]] = {
    val lines = scala.io.Source.fromFile(vecsPath, "UTF-8")
    val all = try lines.getLines().drop(1).map(_.split(",", 2)(1)).toArray finally lines.close()
    val r = rng(seed, 17)
    (0 until nBatches).map { bt =>
      (0 until perBatch).map { i =>
        val base = all(r.nextInt(all.length)).split(";").map(_.toDouble)
        val v = unit(base.map(_ + (r.nextDouble() * 2 - 1) * 0.05))
        (1000000000L + bt * perBatch + i, v.map(_.toFloat))
      }
    }
  }
}
