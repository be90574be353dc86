package graft.perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Everything here is pure Scala over
  * `scala.util.Random(seed)`: the same seed and settings give the same
  * records, byte for byte, on any JVM. The program under test only ever
  * sees the files written from these values. */
object Gen {

  // ---- Febrl-style person records --------------------------------------

  /** @param records   total rows (originals + duplicates)
    * @param blocks    distinct `blocking_number` values, equally often
    * @param hotShare  share of records whose `state` is missing, so they
    *                  all fall into the one `""` state block (0 = none)
    * @param dupShare  share of rows that are duplicates of an original */
  final case class FebrlSettings(records: Int, blocks: Int, hotShare: Double,
      dupShare: Double = 0.35)

  /** One record in `Febrl.columns` order; `family` is the `<n>` of its id. */
  final case class Rec(family: Int, fields: Vector[String]) {
    def id: String = fields(0)
  }

  private val givenNames = Vector("james", "olivia", "jack", "charlotte",
    "william", "mia", "thomas", "amelia", "lachlan", "isla", "noah", "grace",
    "oliver", "chloe", "ethan", "sophie", "liam", "ruby", "lucas", "emily",
    "samuel", "zoe", "henry", "ella", "joshua", "ava", "ryan", "lily",
    "benjamin", "matilda", "daniel", "hannah", "alexander", "jasmine",
    "harrison", "sienna", "cooper", "madison", "riley", "georgia")
  private val surnames = Vector("smith", "jones", "williams", "brown",
    "wilson", "taylor", "johnson", "white", "martin", "anderson", "thompson",
    "nguyen", "thomas", "walker", "harris", "lee", "ryan", "robinson",
    "kelly", "king", "davis", "wright", "evans", "roberts", "green", "hall",
    "wood", "jackson", "clarke", "patel", "campbell", "mitchell", "young",
    "hughes", "edwards", "turner", "stewart", "morris", "murphy", "cook",
    "miller", "baker", "cooper", "morgan", "bell", "ward", "watson", "gray")
  private val streets = Vector("wattle", "banksia", "jacaranda", "kurrajong",
    "eucalypt", "acacia", "boronia", "waratah", "grevillea", "melaleuca",
    "bottlebrush", "casuarina", "callistemon", "angophora", "flinders",
    "macquarie", "hume", "bass", "sturt", "leichhardt", "oxley", "mitchell")
  private val streetTypes = Vector("street", "road", "avenue", "place",
    "crescent", "close", "drive", "parade", "circuit", "way")
  private val buildings = Vector("", "", "", "rosedale", "villa 3", "unit 12",
    "the willows", "kingsford park", "flat 4", "bayview")
  private val suburbs = Vector("balmain", "carlton", "toowong", "subiaco",
    "glenelg", "sandy bay", "braddon", "parap", "manly", "fitzroy",
    "paddington", "fremantle", "norwood", "battery point", "kingston",
    "stuart park", "bondi", "brunswick", "newstead", "cottesloe", "unley",
    "hobart", "turner", "fannie bay", "randwick", "richmond", "ascot")
  /** Australian states with population weights (ABS, rounded). */
  private val states = Vector("nsw" -> 0.32, "vic" -> 0.26, "qld" -> 0.20,
    "wa" -> 0.11, "sa" -> 0.07, "tas" -> 0.02, "act" -> 0.012, "nt" -> 0.008)
  /** Duplicates per original, cycled until `dupShare` of the rows are
    * duplicates; later originals have none. */
  private val familyDups = Vector(1, 1, 2, 1, 3, 1, 2, 4)

  /** `n` values laid out in exact proportion to `weights` (largest
    * remainders), then shuffled: block sizes are the same for every seed,
    * only which record lands where changes. */
  private def deck(r: Random, n: Int, weights: Seq[(String, Double)]): Vector[String] = {
    val total = weights.map(_._2).sum
    val exact = weights.map { case (v, w) => (v, n * w / total) }
    val base = exact.map { case (v, x) => (v, x.toInt) }
    val short = n - base.map(_._2).sum
    val extra = exact.sortBy { case (_, x) => -(x - x.toInt) }.take(short).map(_._1).toSet
    r.shuffle(base.flatMap { case (v, c) => Vector.fill(c + (if (extra(v)) 1 else 0))(v) }.toVector)
  }

  private def digits(r: Random, n: Int): String =
    (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString

  private def original(r: Random, n: Int, state: String, bn: String): Vector[String] = {
    val year = 1930 + r.nextInt(75)
    val dob = f"$year%04d${1 + r.nextInt(12)}%02d${1 + r.nextInt(28)}%02d"
    Vector(s"rec-$n-org",
      givenNames(r.nextInt(givenNames.size)),
      surnames(r.nextInt(surnames.size)),
      (1 + r.nextInt(400)).toString,
      s"${streets(r.nextInt(streets.size))} ${streetTypes(r.nextInt(streetTypes.size))}",
      buildings(r.nextInt(buildings.size)),
      suburbs(r.nextInt(suburbs.size)),
      (2000 + r.nextInt(7000)).toString,
      state,
      dob,
      (2008 - year).toString,
      s"0${2 + r.nextInt(7)} ${digits(r, 4)} ${digits(r, 4)}",
      digits(r, 7),
      bn)
  }

  /** Field positions a corruption may touch: every column but the id and
    * the blocking number (which the reference data carries unchanged). */
  private val corruptible = 1 to 12

  /** One Febrl-style corruption of a value: typo, insertion or deletion. */
  private def editChar(r: Random, v: String): String =
    if (v.isEmpty) v
    else {
      val i = r.nextInt(v.length)
      val c = ('a' + r.nextInt(26)).toChar
      r.nextInt(3) match {
        case 0 => v.updated(i, c)
        case 1 => v.substring(0, i) + c + v.substring(i)
        case _ => v.substring(0, i) + v.substring(i + 1)
      }
    }

  private def duplicate(r: Random, org: Vector[String], n: Int, i: Int): Vector[String] = {
    var f = org.updated(0, s"rec-$n-dup-$i")
    for (_ <- 0 until 1 + r.nextInt(3)) {
      r.nextInt(10) match {
        case 0 => f = f.updated(1, f(2)).updated(2, f(1)) // field swap
        case 1 =>                                          // missing field
          val j = corruptible(r.nextInt(corruptible.size))
          f = f.updated(j, "")
        case _ =>
          val j = corruptible(r.nextInt(corruptible.size))
          f = f.updated(j, editChar(r, f(j)))
      }
    }
    f
  }

  /** Family sizes, which depend on the settings only. */
  private def familySizes(s: FebrlSettings): Vector[Int] = {
    val targetDups = math.round(s.records * s.dupShare).toInt
    val sizes = mutable.ArrayBuffer.empty[Int]
    var rows, dups = 0
    while (rows < s.records) {
      val want = if (dups < targetDups) familyDups(sizes.size % familyDups.size) else 0
      val size = math.min(1 + want, s.records - rows)
      sizes += size
      rows += size
      dups += size - 1
    }
    sizes.toVector
  }

  /** Originals followed by their duplicates, shuffled with the same seed.
    * Family `n` has one `rec-n-org` and zero or more `rec-n-dup-i`.
    * Families take `state` and `blocking_number` from exact-proportion
    * decks, one deck per family size, so every seed gives the same block
    * sizes; duplicates keep both unless a corruption blanks the state. */
  def febrl(seed: Long, s: FebrlSettings): Vector[Rec] = {
    val r = new Random(seed)
    val sizes = familySizes(s)
    val stateOf, bnOf = new Array[String](sizes.size)
    for ((_, fams) <- sizes.indices.groupBy(sizes(_)).toSeq.sortBy(_._1)) {
      val hot = math.round(fams.size * s.hotShare).toInt
      val st = r.shuffle(Vector.fill(hot)("") ++ deck(r, fams.size - hot, states))
      val bn = deck(r, fams.size, (0 until s.blocks).map(b => b.toString -> 1.0))
      fams.indices.foreach { j => stateOf(fams(j)) = st(j); bnOf(fams(j)) = bn(j) }
    }
    val out = sizes.zipWithIndex.flatMap { case (size, n) =>
      val org = original(r, n, stateOf(n), bnOf(n))
      Rec(n, org) +: (0 until size - 1).map(i => Rec(n, duplicate(r, org, n, i)))
    }
    r.shuffle(out)
  }

  /** CSV text as the reference fixtures lay it out: header, one line per
    * record, no quoting (values never contain commas). */
  def febrlCsv(recs: Seq[Rec]): String =
    (graft.ml.Febrl.columns.mkString(",") +: recs.map(_.fields.mkString(",")))
      .mkString("", "\n", "\n")

  /** Block key values of a record, as the library normalises them
    * (trimmed, missing ⇒ ""): (blocking_number, state). */
  def blockKeys(rec: Rec): (String, String) = (rec.fields(13).trim, rec.fields(8).trim)

  /** Truth counts computed here, independently of the library. */
  final case class FebrlTruth(
      exactlyOnce: Long, // distinct id pairs sharing any block
      joinRows: Long,    // Σ n(n−1)/2 over the blocks of both functions
      plantedPairs: Long, // same-family pairs
      maxBlockShare: Double,
      blockSizes: Seq[Long]) // records per block, both functions

  private def choose2(n: Long): Long = n * (n - 1) / 2

  def febrlTruth(recs: Seq[Rec]): FebrlTruth = {
    val keys = recs.map(blockKeys)
    val sizes = (keys.groupBy(_._1).values ++ keys.groupBy(_._2).values).map(_.size.toLong).toSeq
    val both = keys.groupBy(identity).values.map(v => choose2(v.size.toLong)).sum
    val join = sizes.map(choose2).sum
    val planted = recs.groupBy(_.family).values.map(v => choose2(v.size.toLong)).sum
    val max = sizes.map(choose2).max
    FebrlTruth(join - both, join, planted, if (join == 0) 0.0 else max.toDouble / join, sizes)
  }

  // ---- sf0.1-style documents -------------------------------------------

  /** @param docs        total documents
    * @param families    near-duplicate families (a base plus 1, 2 or 3
    *                    light edits, cycled)
    * @param boilerplate exact-copy families; each is one text copied
    * @param copies      copies per exact-copy family */
  final case class CorpusSettings(docs: Int, families: Int, boilerplate: Int, copies: Int)

  final case class Doc(id: Long, text: String, lang: String, source: String,
      family: Int, exact: Boolean)

  /** The sf0.1 `documents` vocabulary: 30 words drawn uniformly. */
  private val vocab = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Vector("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "de" -> 0.14)

  private def words(r: Random, n: Int): Vector[String] =
    Vector.fill(n)(vocab(r.nextInt(vocab.size)))

  /** A light edit: one or two token substitutions, at least 20 tokens
    * apart so most word 3-shingles survive. */
  private def lightEdit(r: Random, toks: Vector[String]): Vector[String] = {
    val i = r.nextInt(toks.size)
    val once = toks.updated(i, vocab(r.nextInt(vocab.size)))
    if (toks.size >= 50 && r.nextBoolean())
      once.updated((i + 20 + r.nextInt(toks.size - 40)) % toks.size, vocab(r.nextInt(vocab.size)))
    else once
  }

  /** Docs with `family` = -1 are singletons. Near-dup families are
    * numbered 0 until `families`; exact-copy families follow. */
  def corpus(seed: Long, s: CorpusSettings): Vector[Doc] = {
    val r = new Random(seed)
    val out = mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    for (f <- 0 until s.families) {
      val base = words(r, 40 + r.nextInt(61))
      out += ((base.mkString(" "), f, false))
      for (_ <- 0 until 1 + f % 3) out += ((lightEdit(r, base).mkString(" "), f, false))
    }
    for (b <- 0 until s.boilerplate) {
      val text = words(r, 30 + r.nextInt(31)).mkString(" ")
      for (_ <- 0 until s.copies) out += ((text, s.families + b, true))
    }
    while (out.size < s.docs) out += ((words(r, 10 + r.nextInt(91)).mkString(" "), -1, false))
    r.shuffle(out.toVector.take(s.docs)).zipWithIndex.map { case ((t, fam, ex), i) =>
      var x = r.nextDouble()
      val lang = langs.find { case (_, w) => x -= w; x < 0 }.getOrElse(langs.last)._1
      Doc(i.toLong, t, lang, s"src${i % 20}", fam, ex)
    }
  }

  /** Same-family pairs: the near-dup truth (exact copies included). */
  def plantedDocPairs(docs: Seq[Doc]): Long =
    docs.filter(_.family >= 0).groupBy(_.family).values.map(v => choose2(v.size.toLong)).sum
}
