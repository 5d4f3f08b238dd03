package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything here is plain single-threaded Scala: the
  * same seed yields byte-identical inputs (see `Main.digests`), and the
  * engine only ever sees the generated rows. */
object Gen {
  /** SHA-256 over a canonical text rendering of an input. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Digest = { md.update(s.getBytes("UTF-8")); md.update(10.toByte); this }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---------------------------------------------------------------- oltp ----
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Colors = Array("almond", "azure", "blush", "chiffon", "coral", "cream",
    "frosted", "ghost", "honeydew", "ivory", "khaki", "lace", "linen", "navy", "orchid",
    "plum", "rose", "salmon", "tan", "wheat")

  final case class Customer(key: Long, name: String, nation: Int, acctbal: Double, segment: String)
  final case class Supplier(key: Long, name: String, nation: Int, acctbal: Double)
  final case class Part(key: Long, name: String, brand: String, ptype: String, size: Int, price: Double)
  final case class Order(key: Long, cust: Long, status: String, total: Double, day: Int, priority: String)
  final case class Line(order: Long, part: Long, supp: Long, lineno: Int, qty: Double,
      price: Double, disc: Double, tax: Double, rflag: String, lstatus: String, shipDay: Int)

  /** TPC-H-shaped tables at scale factor `sf` (sf 1 = 150k customers). Line
    * numbers are unique per order, so every `contains` edge id is dup-free. */
  final case class Tpch(customers: Array[Customer], suppliers: Array[Supplier],
      parts: Array[Part], orders: Array[Order], lines: Array[Line]) {
    def digest: String = {
      val d = new Digest
      customers.foreach(c => d.add(c.toString)); suppliers.foreach(s => d.add(s.toString))
      parts.foreach(p => d.add(p.toString)); orders.foreach(o => d.add(o.toString))
      lines.foreach(l => d.add(l.toString)); d.hex
    }
  }

  /** Day numbers are days since 1970-01-01; 1992-01-01 is day 8035. */
  val Day0 = 8035

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  def tpch(seed: Long, sf: Double): Tpch = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val nC = math.max(100, (150000 * sf).toInt)
    val nS = math.max(10, (10000 * sf).toInt)
    val nP = math.max(100, (200000 * sf).toInt)
    val nO = math.max(500, (1500000 * sf).toInt)
    val customers = Array.tabulate(nC) { i =>
      val k = i + 1L
      Customer(k, f"Customer#$k%09d", r.nextInt(25), cents(r, -999.99, 9999.99),
        Segments(r.nextInt(Segments.length)))
    }
    val suppliers = Array.tabulate(nS) { i =>
      val k = i + 1L
      Supplier(k, f"Supplier#$k%09d", r.nextInt(25), cents(r, -999.99, 9999.99))
    }
    val parts = Array.tabulate(nP) { i =>
      val k = i + 1L
      val name = (0 until 3).map(_ => Colors(r.nextInt(Colors.length))).mkString(" ")
      Part(k, name, s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        s"TYPE${r.nextInt(25)}", 1 + r.nextInt(50), cents(r, 900.0, 2100.0))
    }
    val lines = ArrayBuffer.empty[Line]
    val orders = Array.tabulate(nO) { i =>
      val k = i + 1L
      val day = Day0 + r.nextInt(2400)
      val nl = 1 + r.nextInt(7)
      var total = 0.0
      for (ln <- 1 to nl) {
        val p = 1L + r.nextInt(nP)
        val qty = (1 + r.nextInt(50)).toDouble
        val price = math.round(qty * parts((p - 1).toInt).price * 100.0) / 100.0
        total += price
        lines += Line(k, p, 1L + r.nextInt(nS), ln, qty, price,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          if (r.nextBoolean()) "R" else "N", if (r.nextBoolean()) "O" else "F",
          day + 1 + r.nextInt(120))
      }
      Order(k, 1L + r.nextInt(nC), if (r.nextBoolean()) "O" else "F",
        math.round(total * 100.0) / 100.0, day, Priorities(r.nextInt(Priorities.length)))
    }
    Tpch(customers, suppliers, parts, orders, lines.toArray)
  }

  // ---------------------------------------------------------------- olap ----
  /** A directed bow-tie graph in the `RoundScale.mixGraph` style.
    *  - core: a directed cycle over `core` vertices (the chain, closed), plus
    *    two multiplicative-hash long-range out-edges per core vertex (so every
    *    core vertex has undirected degree >= 3), plus one hub with
    *    spokes out to and back from every 8th core vertex — one giant SCC;
    *    spoke pairs (c, c+1) close triangles through the hub.
    *  - `tendrils` in-tendrils and as many out-tendrils: directed paths of
    *    `tendrilLen` vertices running into / out of the core. Every 3rd
    *    tendril carries a 3-cycle halfway along (a small SCC inside a tendril);
    *    the condensation DAG is up to 2·tendrilLen + 1 deep.
    *  - `islands` separate undirected-style 4-cycles: extra weak components.
    * Vertex ids are a seeded permutation; edge ids are seeded and unique
    * (they are the MSF weights). No self-loops, no parallel edges. */
  final case class OlapGraph(n: Int, vid: Array[Long], src: Array[Int], dst: Array[Int],
      eid: Array[Long], tendrilLen: Int, condensationDepth: Int) {
    def m: Int = src.length
    def digest: String = {
      val d = new Digest
      d.add(s"$n ${vid.mkString(",")}")
      for (i <- 0 until m) d.add(s"${eid(i)} ${vid(src(i))} ${vid(dst(i))}")
      d.hex
    }
  }

  def olap(seed: Long, core: Int, tendrils: Int, tendrilLen: Int, islands: Int): OlapGraph = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val es = ArrayBuffer.empty[(Int, Int)]
    val seen = scala.collection.mutable.HashSet.empty[Long]
    def edge(a: Int, b: Int): Unit =
      if (a != b && seen.add(a.toLong << 32 | b)) es += ((a, b))
    for (i <- 0 until core) edge(i, (i + 1) % core)
    val mult = 2654435761L
    for (i <- 0 until core; j <- 1 to 2)
      edge(i, ((i * mult * j + 12345L + r.nextInt(core)) % core).toInt)
    var next = core
    val hub = next; next += 1
    for (c <- 0 until core by 8) { edge(hub, c); edge(c, hub); edge(hub, (c + 1) % core) }
    def path(len: Int): Array[Int] = { val p = Array.tabulate(len)(j => next + j); next += len; p }
    for (t <- 0 until tendrils) {
      val in = path(tendrilLen)
      for (j <- 0 until tendrilLen - 1) edge(in(j), in(j + 1))
      edge(in.last, r.nextInt(core))
      val out = path(tendrilLen)
      edge(r.nextInt(core), out(0))
      for (j <- 0 until tendrilLen - 1) edge(out(j), out(j + 1))
      if (t % 3 == 0) { // a 3-cycle halfway along each side
        val h = tendrilLen / 2
        edge(in(h + 1), in(h - 1)); edge(out(h + 1), out(h - 1))
      }
    }
    for (_ <- 0 until islands) {
      val p = path(4)
      edge(p(0), p(1)); edge(p(1), p(2)); edge(p(2), p(3)); edge(p(3), p(0))
    }
    val n = next
    // seeded id permutation (Fisher-Yates) and unique seeded edge ids
    val perm = Array.tabulate(n)(_.toLong)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val order = es.indices.toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val eid = new Array[Long](es.length)
    for (i <- es.indices) eid(order(i)) = 1000000L + i
    OlapGraph(n, perm, es.map(_._1).toArray, es.map(_._2).toArray, eid,
      tendrilLen, condensationDepth = 2 * tendrilLen + 1)
  }

  // ------------------------------------------------------------ dataprep ----
  /** `src` is the document a planted variant was copied from (-1 for fresh
    * text); `family` is the root of that copy chain. */
  final case class Doc(id: Long, text: String, family: Long, src: Long, vec: Array[Float], cluster: Int)

  /** Synthetic corpus: `base` documents, then `batches` arriving batches of
    * `batch` documents. Planted near-duplicate families: a variant copies a
    * source text with ~4% of its words substituted (3-shingle Jaccard ≈ 0.8).
    * 20% of base documents are variants of earlier base documents; 25% of each
    * batch are variants of base documents. Embeddings (dim 16) are planted
    * around `clusters` unit centres with small noise. */
  final case class Corpus(base: Array[Doc], batches: Array[Array[Doc]], vocab: Array[String]) {
    def digest: String = {
      val d = new Digest
      (base ++ batches.flatten).foreach(x =>
        d.add(s"${x.id}|${x.family}|${x.src}|${x.cluster}|${x.text}|${x.vec.mkString(",")}"))
      d.hex
    }
  }

  val Dim = 16

  def corpus(seed: Long, base: Int, batches: Int, batch: Int, clusters: Int): Corpus = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val vocab = Array.tabulate(3000)(i => s"w${Integer.toString(i * 7919 % 46656, 36)}")
    // Zipf-ish word choice: squaring a uniform skews toward low ranks
    def word(): String = { val u = r.nextDouble(); vocab((u * u * vocab.length).toInt) }
    def fresh(): String = Array.fill(40 + r.nextInt(40))(word()).mkString(" ")
    def variant(t: String): String = t.split(" ").map(w =>
      if (r.nextDouble() < 0.04) word() else w).mkString(" ")
    val centres = Array.fill(clusters) {
      val v = Array.fill(Dim)(r.nextDouble() * 2 - 1)
      val nrm = math.sqrt(v.map(x => x * x).sum); v.map(_ / nrm)
    }
    def vec(c: Int): Array[Float] =
      Array.tabulate(Dim)(j => (centres(c)(j) + (r.nextDouble() * 2 - 1) * 0.08).toFloat)
    var nextId = 0L
    def doc(text: String, from: Doc): Doc = {
      val id = nextId; nextId += 1
      val c = r.nextInt(clusters)
      if (from == null) Doc(id, text, id, -1L, vec(c), c)
      else Doc(id, text, from.family, from.id, vec(c), c)
    }
    val bs = ArrayBuffer.empty[Doc]
    for (_ <- 0 until base) {
      if (bs.size > 10 && r.nextDouble() < 0.2) {
        val src = bs(r.nextInt(bs.size)); bs += doc(variant(src.text), src)
      } else bs += doc(fresh(), null)
    }
    val baseArr = bs.toArray
    val bats = Array.fill(batches) {
      Array.fill(batch) {
        if (r.nextDouble() < 0.25) {
          val src = baseArr(r.nextInt(baseArr.length)); doc(variant(src.text), src)
        } else doc(fresh(), null)
      }
    }
    Corpus(baseArr, bats, vocab)
  }
}
