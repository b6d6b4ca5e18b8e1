package lakebench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Seeded CDC order rows in the reference's raw schema (Op,
  * replicadmstimestamp, invoiceid, itemid, category, price, quantity,
  * orderdate, destinationstate, shippingtype, referral).
  *
  * A row is a pure function of (invoiceid, version): the generator never
  * stores row images, and the expected-silver model only needs the current
  * version per key. `itemid` and `destinationstate` depend on the key
  * alone, so an update never moves a row between partitions and the merge
  * key (invoiceid, itemid) is equivalent to invoiceid. */
object Orders {
  val Header: Seq[String] = Seq("Op", "replicadmstimestamp", "invoiceid",
    "itemid", "category", "price", "quantity", "orderdate",
    "destinationstate", "shippingtype", "referral")

  val States: Array[String] = Array("AL", "AK", "AZ", "AR", "CA", "CO", "CT",
    "DE", "FL", "GA", "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME",
    "MD", "MA", "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM",
    "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX",
    "UT", "VT", "VA", "WA", "WV", "WI", "WY")

  val Words: Array[String] = Array("degree", "bit", "school", "market",
    "language", "book", "management", "trouble", "others", "play", "season",
    "fact", "office", "energy", "policy", "water", "garden", "money",
    "window", "story", "travel", "music", "nature", "health", "science",
    "paper", "river", "animal", "design", "letter", "theory", "camera",
    "forest", "island", "bridge", "coffee", "planet", "signal", "engine",
    "winter", "summer", "record", "system", "method", "career", "friend",
    "family", "ticket", "button", "circle", "pocket", "shadow", "silver",
    "rocket", "studio", "bottle", "candle", "dinner", "finger", "hammer",
    "jacket", "ladder", "mirror", "needle")

  val Ship: Array[String] = Array("2-Day", "3-Day", "Standard")

  // 2024-01-01T00:00:00Z and 2021-01-01 (epoch day)
  private val TsBaseMicros = 1704067200L * 1000000L
  private val YearMicros = 365L * 86400L * 1000000L
  private val DayBase = 18628

  /** splitmix64 finaliser over a combined (a, b) — the only randomness
    * source for row images. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(n: Int, a: Long, b: Long): Int =
    java.lang.Math.floorMod(mix(a, b), n.toLong).toInt

  def itemId(id: Long): Long = 1L + pick(100, id, 1)
  def state(id: Long): String = States(stateIx(id))
  def stateIx(id: Long): Int = pick(States.length, id, 2)
  def category(id: Long, v: Int): String = Words(pick(Words.length, id, v * 16L + 3))
  def priceCents(id: Long, v: Int): Long = 100L + pick(99900, id, v * 16L + 4)
  def quantity(id: Long, v: Int): Int = 1 + pick(9, id, v * 16L + 5)
  def orderDay(id: Long, v: Int): Int = DayBase + pick(1400, id, v * 16L + 6)
  def ship(id: Long, v: Int): String = Ship(pick(Ship.length, id, v * 16L + 7))
  def referral(id: Long, v: Int): String = Words(pick(Words.length, id, v * 16L + 8))
  def tsMicros(id: Long, v: Int): Long =
    TsBaseMicros + java.lang.Math.floorMod(mix(id, v * 16L + 9), YearMicros)

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** One raw TSV line. Prices always carry two decimals and ids stay below
    * 2^31, so per-batch schema inference is stable across batches. */
  def tsvLine(op: Char, id: Long, v: Int): String = {
    val us = tsMicros(id, v)
    val ts = java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
      ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC).format(TsFmt)
    val c = priceCents(id, v)
    val price = f"${c / 100}%d.${c % 100}%02d"
    val day = java.time.LocalDate.ofEpochDay(orderDay(id, v).toLong).toString
    s"$op\t$ts\t$id\t${itemId(id)}\t${category(id, v)}\t$price\t" +
      s"${quantity(id, v)}\t$day\t${state(id)}\t${ship(id, v)}\t${referral(id, v)}"
  }

  /** Silver-schema row (replicadmstimestamp, invoiceid, itemid, category,
    * price, quantity, orderdate, destinationstate, shippingtype, referral). */
  def silverRow(id: Long, v: Int): Row = Row(
    java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(tsMicros(id, v) * 1000L)),
    id, itemId(id), category(id, v), priceCents(id, v) / 100.0, quantity(id, v),
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(orderDay(id, v).toLong)),
    state(id), ship(id, v), referral(id, v))

  /** Canonical text of a silver row; [[Checks.silverDigest]] builds the
    * same string in Spark from the stored columns. */
  def canon(id: Long, v: Int): String =
    s"$id|${itemId(id)}|${category(id, v)}|${priceCents(id, v)}|" +
      s"${quantity(id, v)}|${orderDay(id, v)}|${state(id)}|${ship(id, v)}|" +
      s"${referral(id, v)}|${tsMicros(id, v)}"

  /** Order-independent checksum term of one row: Spark's xxhash64 of the
    * canonical text, reduced mod 2^31-1 so table-wide sums never overflow. */
  def rowHash(id: Long, v: Int): Long = java.lang.Math.floorMod(
    XxHash64Function.hash(UTF8String.fromString(canon(id, v)), StringType, 42L),
    Checks.HashMod)

  /** Bytes of the row's TSV encoding — the "user bytes" unit of write and
    * space amplification. */
  def userBytes(op: Char, id: Long, v: Int): Long =
    tsvLine(op, id, v).getBytes(UTF_8).length + 1L
}

/** Zipf(s) over ranks 1..n by inverse CDF; rank r maps to a key through a
  * fixed scramble so hot keys spread over partitions and files. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
    i = 0
    while (i < n) { a(i) /= acc; i += 1 }
    a
  }
  def rank(rng: java.util.Random): Int = {
    val u = rng.nextDouble()
    val ix = java.util.Arrays.binarySearch(cdf, u)
    if (ix >= 0) ix else math.min(-ix - 1, n - 1)
  }
  /** key in 1..n for a drawn rank */
  def key(rng: java.util.Random): Long =
    1L + java.lang.Math.floorMod(Orders.mix(rank(rng).toLong, 77L), n.toLong)
}

/** Expected silver table: current version per invoiceid (0 = absent),
  * plus running count, quantity sum, checksum and per-state aggregates,
  * all maintained incrementally on every applied change. */
final class SilverModel(initialCap: Int) {
  private var ver = new Array[Int](initialCap + 1)
  var maxId: Long = 0L
  var count: Long = 0L
  var sumQty: Long = 0L
  var checksum: Long = 0L
  val stateCount = new Array[Long](Orders.States.length)
  val stateQty = new Array[Long](Orders.States.length)

  def version(id: Long): Int =
    if (id < ver.length) ver(id.toInt) else 0
  def present(id: Long): Boolean = version(id) > 0

  private def add(id: Long, v: Int, sign: Int): Unit = {
    val q = Orders.quantity(id, v)
    count += sign; sumQty += sign * q
    checksum += sign * Orders.rowHash(id, v)
    val s = Orders.stateIx(id)
    stateCount(s) += sign; stateQty(s) += sign * q
  }

  /** versions are stored +1 so 0 can mean absent */
  def upsert(id: Long, v: Int): Unit = {
    if (id >= ver.length)
      ver = java.util.Arrays.copyOf(ver, math.max(ver.length * 2, id.toInt + 1))
    val cur = ver(id.toInt)
    if (cur > 0) add(id, cur - 1, -1)
    ver(id.toInt) = v + 1
    add(id, v, +1)
    maxId = math.max(maxId, id)
  }
  def delete(id: Long): Unit = {
    val cur = version(id)
    if (cur > 0) { add(id, cur - 1, -1); ver(id.toInt) = 0 }
  }
  def rowVersion(id: Long): Option[Int] = version(id) match {
    case 0 => None
    case v => Some(v - 1)
  }
  def apply(c: Change): Unit = c.op match {
    case 'D' => delete(c.id)
    case _ => upsert(c.id, c.ver)
  }
}

final case class Change(op: Char, id: Long, ver: Int)

/** CDC batch generator over a [[SilverModel]]: each invoiceid appears at
  * most once per batch (the pipeline's keep-latest dedup orders by a
  * processed_time that is constant within a batch, so in-batch duplicates
  * would have no defined winner); across batches hot keys repeat on
  * purpose. Inserts take fresh ids above every id seen so far. */
final class CdcGen(seed: Long, zipfKeys: Int, zipfS: Double) {
  val rng = new java.util.Random(seed)
  private val zipf = new Zipf(math.max(zipfKeys, 1), zipfS)
  private var nextVer = 1

  def batch(model: SilverModel, rows: Int, pUpdate: Double,
      pDelete: Double): Seq[Change] = {
    val used = scala.collection.mutable.HashSet.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[Change]
    var fresh = model.maxId
    val v = nextVer; nextVer += 1
    while (out.size < rows) {
      val u = rng.nextDouble()
      val kind = if (u < pDelete) 'D' else if (u < pDelete + pUpdate) 'U' else 'I'
      val c: Change = if (kind == 'I') {
        fresh += 1; Change('I', fresh, v)
      } else {
        // resample hot keys already used in this batch (sampling without
        // replacement under Zipf weights); a deleted key re-enters as 'I'
        var k = zipf.key(rng); var tries = 0
        while (used.contains(k) && tries < 64) { k = zipf.key(rng); tries += 1 }
        if (used.contains(k)) { fresh += 1; Change('I', fresh, v) }
        else if (!model.present(k)) Change('I', k, v)
        else Change(kind, k, v)
      }
      if (!used.contains(c.id)) { used += c.id; out += c }
    }
    out.toSeq
  }

  /** TSV file bodies for `changes` split into `files` files. */
  def files(changes: Seq[Change], files: Int): Seq[String] = {
    val per = math.max(1, (changes.size + files - 1) / files)
    changes.grouped(per).map { g =>
      (Orders.Header.mkString("\t") +: g.map(c => Orders.tsvLine(c.op, c.id, c.ver)))
        .mkString("", "\n", "\n")
    }.toSeq
  }
}

/** Documents derived from a source corpus (the test data's
  * `documents.parquet`, shipped as `lakebench/data/documents.parquet`):
  * a fresh document is a source document with its words in a seeded
  * random order, so lengths and word frequencies stay those of the source;
  * a near duplicate appends the word " dup", the rule the source corpus's
  * own near duplicates follow; a variant is the same text after
  * normalisation, with different casing and spacing. */
final class DocGen(seed: Long, source: IndexedSeq[String]) {
  val rng = new java.util.Random(seed)
  def fresh(): String = {
    val ws = source(rng.nextInt(source.size)).split(' ')
    var i = ws.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = ws(i); ws(i) = ws(j); ws(j) = t
      i -= 1
    }
    ws.mkString(" ")
  }
  def nearDup(t: String): String = t + " dup"
  def variant(t: String): String = {
    val ws = t.split(' ')
    val k = rng.nextInt(ws.length)
    ws(k) = ws(k).toUpperCase(java.util.Locale.ROOT)
    ws.mkString(if (rng.nextBoolean()) "  " else " \t") + " "
  }
}

object Text {
  /** the program's normal form (TextFunctions.normalize): lowercase, runs
    * of whitespace as one space, trimmed */
  def normalize(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
  /** fingerprint of the normalised text, as the program computes it */
  def fingerprint(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(normalize(s).getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }
  private def shingles(t: String): Set[String] = {
    val ws = normalize(t).split(' ')
    if (ws.length < 3) Set(ws.mkString(" "))
    else ws.sliding(3).map(_.mkString(" ")).toSet
  }
  /** exact Jaccard of the distinct 3-word shingle sets */
  def jaccard3(a: String, b: String): Double = {
    val x = shingles(a); val y = shingles(b)
    val i = x.intersect(y).size
    i.toDouble / (x.size + y.size - i)
  }
  /** Near-duplicate families of `texts`: family id per text, where two
    * texts whose 3-shingle Jaccard is at least `threshold` share one.
    * Candidates come from a shingle index, so only texts sharing a
    * shingle are compared. */
  def families(texts: IndexedSeq[String], threshold: Double): Array[Int] = {
    val sets = texts.map(shingles)
    val parent = Array.tabulate(texts.size)(identity)
    def root(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      parent(i) = r; r
    }
    val index = scala.collection.mutable.HashMap.empty[String, List[Int]]
    sets.indices.foreach { i =>
      val shared = scala.collection.mutable.HashMap.empty[Int, Int]
      sets(i).foreach { s =>
        val seen = index.getOrElse(s, Nil)
        seen.foreach(j => shared(j) = shared.getOrElse(j, 0) + 1)
        index(s) = i :: seen
      }
      shared.foreach { case (j, n) =>
        if (n.toDouble / (sets(i).size + sets(j).size - n) >= threshold)
          parent(root(i)) = root(j)
      }
    }
    Array.tabulate(texts.size)(root)
  }
}
