package perfbench

import scala.collection.mutable

/** Sequential in-process reference implementations for the `olap` kernels,
  * written independently of the engine. Vertices are dense indices 0..n-1;
  * `vid` maps them to the ids the engine sees. Labels follow the engine's
  * conventions: a component or SCC is labelled by its minimum vertex id. */
object Ref {
  final class UnionFind(n: Int) {
    private val p = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var a = x; while (p(a) != a) { p(a) = p(p(a)); a = p(a) }; a }
    def union(a: Int, b: Int): Boolean = {
      val ra = find(a); val rb = find(b)
      if (ra == rb) false else { p(ra) = rb; true }
    }
  }

  /** Weakly connected components: vertex id → min vertex id of its component. */
  def components(g: Gen.OlapGraph): Map[Long, Long] = {
    val uf = new UnionFind(g.n)
    for (i <- 0 until g.m) uf.union(g.src(i), g.dst(i))
    val minOf = mutable.HashMap.empty[Int, Long]
    for (v <- 0 until g.n) {
      val r = uf.find(v); minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), g.vid(v))
    }
    (0 until g.n).map(v => g.vid(v) -> minOf(uf.find(v))).toMap
  }

  /** Strongly connected components by iterative Tarjan: id → min id of its SCC. */
  def scc(g: Gen.OlapGraph): Map[Long, Long] = {
    val adj = Array.fill(g.n)(mutable.ArrayBuffer.empty[Int])
    for (i <- 0 until g.m) adj(g.src(i)) += g.dst(i)
    val index = Array.fill(g.n)(-1); val low = new Array[Int](g.n)
    val onStack = new Array[Boolean](g.n); val stack = mutable.Stack.empty[Int]
    val label = new Array[Long](g.n)
    var counter = 0
    for (root <- 0 until g.n if index(root) < 0) {
      val work = mutable.Stack((root, 0))
      while (work.nonEmpty) {
        val (v, i) = work.pop()
        if (i == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack(v) = true
        }
        var recurse = false
        var j = i
        while (j < adj(v).size && !recurse) {
          val w = adj(v)(j)
          if (index(w) < 0) { work.push((v, j + 1)); work.push((w, 0)); recurse = true }
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
          j += 1
        }
        if (!recurse) {
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer.empty[Int]
            var w = -1
            while (w != v) { w = stack.pop(); onStack(w) = false; members += w }
            val m = members.map(g.vid).min
            members.foreach(x => label(x) = m)
          }
          if (work.nonEmpty) { val (u, _) = work.top; low(u) = math.min(low(u), low(v)) }
        }
      }
    }
    (0 until g.n).map(v => g.vid(v) -> label(v)).toMap
  }

  private def simpleAdjacency(g: Gen.OlapGraph): Array[mutable.HashSet[Int]] = {
    val adj = Array.fill(g.n)(mutable.HashSet.empty[Int])
    for (i <- 0 until g.m) { adj(g.src(i)) += g.dst(i); adj(g.dst(i)) += g.src(i) }
    adj
  }

  /** k-core survivors, degree counted over the directed edge list in both
    * directions (so u→v plus v→u count twice, as multi-edges do). */
  def kCore(g: Gen.OlapGraph, k: Int): Set[Long] = {
    val nbrs = Array.fill(g.n)(mutable.ArrayBuffer.empty[Int])
    for (i <- 0 until g.m) { nbrs(g.src(i)) += g.dst(i); nbrs(g.dst(i)) += g.src(i) }
    val deg = nbrs.map(_.size)
    val removed = new Array[Boolean](g.n)
    val queue = mutable.Queue.empty[Int]
    for (v <- 0 until g.n if deg(v) < k) { removed(v) = true; queue += v }
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      for (w <- nbrs(v) if !removed(w)) {
        deg(w) -= 1
        if (deg(w) < k) { removed(w) = true; queue += w }
      }
    }
    (0 until g.n).filterNot(removed).map(g.vid).toSet
  }

  /** Core numbers on the simple undirected graph (Batagelj–Zaversnik). */
  def coreness(g: Gen.OlapGraph): Map[Long, Long] = {
    val adj = simpleAdjacency(g)
    val deg = adj.map(_.size)
    val maxDeg = if (g.n == 0) 0 else deg.max
    val bins = Array.fill(maxDeg + 1)(mutable.LinkedHashSet.empty[Int])
    for (v <- 0 until g.n) bins(deg(v)) += v
    val done = new Array[Boolean](g.n)
    val core = new Array[Long](g.n)
    var d = 0
    var left = g.n
    while (left > 0) {
      while (bins(d).isEmpty) d += 1
      val v = bins(d).head; bins(d) -= v
      done(v) = true; core(v) = d; left -= 1
      for (w <- adj(v) if !done(w) && deg(w) > d) {
        bins(deg(w)) -= w; deg(w) -= 1; bins(deg(w)) += w
      }
      d = math.max(0, d - 1)
    }
    (0 until g.n).map(v => g.vid(v) -> core(v)).toMap
  }

  /** Minimum spanning forest by Kruskal over undirected edges whose parallel
    * copies collapse to their minimum weight: (u, v, w) with u < v. */
  def msf(g: Gen.OlapGraph): Set[(Long, Long, Long)] = {
    val best = mutable.HashMap.empty[(Int, Int), Long]
    for (i <- 0 until g.m) {
      val a = g.src(i); val b = g.dst(i)
      val key = if (g.vid(a) < g.vid(b)) (a, b) else (b, a)
      best(key) = math.min(best.getOrElse(key, Long.MaxValue), g.eid(i))
    }
    val uf = new UnionFind(g.n)
    best.toSeq.sortBy(_._2).collect {
      case ((a, b), w) if uf.union(a, b) => (g.vid(a), g.vid(b), w)
    }.toSet
  }

  /** k-truss by sequential peeling: surviving simple undirected edges (u < v)
    * whose support (triangles through the edge) is at least k - 2. */
  def kTruss(g: Gen.OlapGraph, k: Int): Set[(Long, Long)] = {
    val adj = simpleAdjacency(g)
    def key(a: Int, b: Int) = if (a < b) (a, b) else (b, a)
    val support = mutable.HashMap.empty[(Int, Int), Int]
    for (a <- 0 until g.n; b <- adj(a) if a < b) support((a, b)) = (adj(a) intersect adj(b)).size
    val queue = mutable.Queue.empty[(Int, Int)]
    val dead = mutable.HashSet.empty[(Int, Int)]
    for ((e, s) <- support if s < k - 2) { dead += e; queue += e }
    while (queue.nonEmpty) {
      val (a, b) = queue.dequeue()
      adj(a) -= b; adj(b) -= a
      for (c <- adj(a) intersect adj(b); e <- Seq(key(a, c), key(b, c)) if !dead(e)) {
        support(e) -= 1
        if (support(e) < k - 2) { dead += e; queue += e }
      }
    }
    support.keySet.diff(dead).map { case (a, b) =>
      (math.min(g.vid(a), g.vid(b)), math.max(g.vid(a), g.vid(b))) }.toSet
  }
}
