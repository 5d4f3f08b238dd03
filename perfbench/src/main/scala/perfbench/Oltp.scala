package perfbench

import graft.data.{GraphIO, PropertyGraph, TpchGraph}
import graft.query.{Direction, VertexCentricQuery}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.sql.{Date, Timestamp}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `oltp`: one client in a closed loop against the TPC-H property graph. A
  * cycle is ten requests — nine reads of five shapes and one small enforced
  * mutation batch — and later reads run on the graph the write returned. */
object Oltp {
  val Sf = 0.005
  val Setups = 3
  private val T = 1L << graft.core.GraphIds.TagBits
  private def vid(tag: Int, uid: Long): Long = tag.toLong * T + uid
  private val AddedTag = 7L

  /** The harness's own model of the graph: the generated tables plus every
    * write it applied. Every read's reference answer is computed from it. */
  final class Model(t: Gen.Tpch) {
    val acctbal = mutable.HashMap.empty[Long, Double] ++ t.customers.map(c => c.key -> c.acctbal)
    val cust = t.customers.map(c => c.key -> c).toMap
    val ordersOf = t.orders.groupBy(_.cust).map { case (k, v) => k -> v.map(_.key).toSeq }
    /** contains edges: id → (order, part, price, lineno, supp) */
    val contains = mutable.LinkedHashMap.empty[Long, (Long, Long, Double, Int, Long)]
    for (l <- t.lines) contains(T * 5 + l.order * 256 + l.lineno * 32) =
      (l.order, l.part, l.price, l.lineno, l.supp)
    def byOrder: Map[Long, Seq[(Long, Long, Double, Int, Long)]] = contains.values.toSeq.groupBy(_._1)
  }

  private def writeTables(spark: SparkSession, t: Gen.Tpch, dir: String): Unit = {
    def put(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    def ts(day: Int) = new Timestamp(day * 86400000L)
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, d) => StructField(n, d) })
    put("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Gen.Regions.indices.map(i => Row(i, Gen.Regions(i))))
    put("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION$i", i % 5)))
    put("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      t.customers.toSeq.map(c => Row(c.key, c.name, c.nation, c.acctbal, c.segment)))
    put("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType), t.suppliers.toSeq.map(s => Row(s.key, s.name, s.nation, s.acctbal)))
    put("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      t.parts.toSeq.map(p => Row(p.key, p.name, p.brand, p.ptype, p.size, p.price)))
    put("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      t.orders.toSeq.map(o => Row(o.key, o.cust, o.status, o.total, ts(o.day), o.priority)))
    put("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampType),
      t.lines.toSeq.map(l => Row(l.order, l.part, l.supp, l.lineno, l.qty, l.price, l.disc, l.tax,
        l.rflag, l.lstatus, ts(l.shipDay))))
  }

  /** One request of the seeded stream. */
  sealed trait Req { def kind: String }
  final case class HasEq(cust: Long) extends Req { val kind = "has_eq" }
  final case class Interval(lo: Double) extends Req { val kind = "interval" }
  final case class VcTopK(order: Long) extends Req { val kind = "vc_topk" }
  final case class Hop3(cust: Long) extends Req { val kind = "hop3" }
  final case class Multi(custs: Seq[Long]) extends Req { val kind = "multi_query" }
  final case class Write(cust: Long, bal: Double, order: Long, part: Long, delPick: Int)
      extends Req { val kind = "write" }

  val IntervalWidth = 400.0

  /** Cycle `i` of the stream: nine reads — two of each shape except one 3-hop
    * traversal, in seeded order with seeded anchors — then one write, whose
    * lineage the next cycle's reads pay for. The fixed mix and slot keep every
    * run's medians comparable. */
  def cycle(seed: Long, i: Int, t: Gen.Tpch): Seq[Req] = {
    val r = new SplittableRandom(seed * 1000003L + i)
    def cust() = t.customers(r.nextInt(t.customers.length)).key
    val shapes = mutable.ArrayBuffer(0, 0, 1, 1, 2, 2, 3, 4, 4)
    for (j <- shapes.indices.reverse) {
      val k = r.nextInt(j + 1); val x = shapes(j); shapes(j) = shapes(k); shapes(k) = x
    }
    val reads = shapes.toSeq.map {
      case 0 => HasEq(cust())
      case 1 => Interval(1000.0 + r.nextDouble() * 300000.0)
      case 2 => VcTopK(t.orders(r.nextInt(t.orders.length)).key)
      case 3 => Hop3(t.orders(r.nextInt(t.orders.length)).cust)
      case _ => Multi(Seq.fill(16)(cust()).distinct)
    }
    val w = Write(cust(), math.round(r.nextDouble() * 1000000.0) / 100.0,
      t.orders(r.nextInt(t.orders.length)).key, t.parts(r.nextInt(t.parts.length)).key,
      r.nextInt(Int.MaxValue))
    reads :+ w
  }

  def run(ctx: Ctx): Result = {
    val gen = Gen.tpch(ctx.seed, Sf)
    val raw = s"${ctx.dir}/tpch"
    // set-up, repeated: session start + layout build into a fresh dir + one warm-up op
    val setups = ArrayBuffer.empty[Double]; val loads = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var g: PropertyGraph = null
    for (k <- 0 until Setups) {
      if (spark != null) Harness.stop(spark)
      val t0 = System.nanoTime()
      spark = Harness.session(ctx, ctx.trace)
      // the first session also writes the generated tables; input generation
      // is not set-up, so that time is left out
      val w0 = System.nanoTime()
      if (k == 0) writeTables(spark, gen, raw)
      val written = System.nanoTime() - w0
      Harness.mark(s"set-up $k session up, tables written")
      val t1 = System.nanoTime()
      g = TpchGraph.loadMaterialized(spark, raw, s"${ctx.dir}/layout-$k")
      loads += Harness.secs(System.nanoTime() - t1)
      Harness.mark(s"set-up $k loaded")
      read(new Recorder(spark, false), g, Hop3(gen.orders(0).cust))
      setups += Harness.secs(System.nanoTime() - t0 - written)
    }
    Harness.mark("set-up done")
    val rec = new Recorder(spark, ctx.trace)
    val model = new Model(gen)
    var byOrder = model.byOrder
    val ordersByTotal = gen.orders.sortBy(_.total)
    val ops = ArrayBuffer.empty[OpRec]; val passes = ArrayBuffer.empty[Double]
    val heap = new Harness.Heap
    val failures = mutable.LinkedHashMap.empty[String, Int]
    var added = 0L

    def check(req: Req, rows: Array[Row]): Boolean = req match {
      case HasEq(c) =>
        val k = model.cust(c)
        rows.map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getDouble(2)}").toSeq ==
          Seq(s"$c|${k.name}|${model.acctbal(c)}")
      case Interval(lo) =>
        val want = ordersByTotal.filter(o => o.total >= lo && o.total < lo + IntervalWidth)
          .map(o => s"${o.key}|${o.total}")
        Harness.digest(rows.map(r => s"${r.getLong(0)}|${r.getDouble(1)}")) == Harness.digest(want)
      case VcTopK(o) =>
        val want = byOrder.getOrElse(o, Nil)
          .sortBy(e => (-e._3, e._4, vid(TpchGraph.PartTag, e._2), e._5)).take(2)
          .map(e => s"${vid(TpchGraph.PartTag, e._2)}|${e._3}")
        rows.map(r => s"${r.getLong(0)}|${r.getDouble(1)}").toSeq == want
      case Hop3(c) =>
        val parts = model.ordersOf.getOrElse(c, Nil).flatMap(o => byOrder.getOrElse(o, Nil).map(_._2)).toSet
        val want = model.contains.values.filter(e => parts(e._2)).map(_._1.toString).toSet
        Harness.digest(rows.map(_.getLong(0).toString)) == Harness.digest(want)
      case Multi(cs) =>
        val want = cs.flatMap(c => model.ordersOf.get(c).map(os =>
          s"${vid(TpchGraph.CustomerTag, c)}|${os.size}"))
        Harness.digest(rows.map(r => s"${r.getLong(0)}|${r.getLong(1)}")) == Harness.digest(want)
      case _: Write => true
    }

    val measured = Harness.loop(ctx.seconds, minCycles = if (ctx.trace) 2 else 1) { i =>
      rec.startCycle(i)
      val c0 = System.nanoTime()
      for (req <- cycle(ctx.seed, i, gen)) {
        var rows: Array[Row] = null
        lazy val live = model.contains.keys.toIndexedSeq
        val addId = AddedTag * T + added + 1
        val (done, ns) = rec.op(req.kind) {
          try {
            req match {
              case w: Write =>
                val del = live(w.delPick % live.size)
                g = rec.phase("data", "data.mutate")(write(g, model, w, addId, del))
              case q => rows = read(rec, g, q)
            }
            true
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] oltp ${req.kind} failed: $e"); false }
        }
        // reference bookkeeping and checks run outside the timed op
        val ok = done && (req match {
          case w: Write =>
            added += 1
            model.contains.remove(live(w.delPick % live.size))
            model.contains(addId) = (w.order, w.part, 999999.0, 8 + added.toInt % 1000, 1L)
            model.acctbal(w.cust) = w.bal
            byOrder = model.byOrder
            true
          case q => check(q, rows)
        })
        if (!ok) failures(req.kind) = failures.getOrElse(req.kind, 0) + 1
        ops += OpRec(req.kind, if (req.isInstanceOf[Write]) "write" else "read", ns, ok,
          rec.tracing, rec.lastOp)
      }
      passes += Harness.secs(System.nanoTime() - c0)
      heap.sample()
    }
    rec.tracing = false
    Harness.mark("measured")
    rec.finish()
    val notes = ArrayBuffer(s"oltp sf=$Sf customers=${gen.customers.length} orders=${gen.orders.length} " +
      s"contains=${gen.lines.length} writes_applied=$added")
    failures.foreach { case (k, n) => notes += s"oltp failed $k x$n" }
    val layer = if (ctx.trace) {
      val writes = ops.filter(o => o.traced && o.cat == "write")
      notes ++= Harness.selfTable(rec, ops.toSeq, "oltp")
      val mutate = writes.map(o => rec.phases(o.span).filter(_.name == "data.mutate")
        .map(s => (s.end - s.start) / 1e6).sum)
      Harness.layerMetrics(rec, ops.toSeq, Map(
        "data.load_s" -> ((Stats.median(loads.toSeq), loads.size)),
        "data.mutate_ms" -> ((Stats.mean(mutate), writes.size)),
        "data.mutate_jobs" -> ((Stats.mean(writes.map(o => rec.sparkTotals(o.span)("jobs"))), writes.size))))
    } else Nil
    Harness.stop(spark)
    Result(ops.size, ops.count(!_.ok),
      Harness.e2e(ops.toSeq, passes.toSeq, setups.toSeq, loads.toSeq, heap, measured), layer, notes.toSeq,
      if (ctx.trace) rec.toJson else "")
  }

  /** Run one read request through the layers. */
  def read(rec: Recorder, g: PropertyGraph, req: Req): Array[Row] = {
    val spark = g.spark
    Harness.query(rec) {
      req match {
        case HasEq(c) =>
          g.V().hasLabel("customer").has("uid", c).dataframe
            .select(col("uid"), col("name"), col("acctbal"))
        case Interval(lo) =>
          g.V().hasLabel("order").interval("totalprice", lo, lo + IntervalWidth).dataframe
            .select(col("uid"), col("totalprice"))
        case VcTopK(o) =>
          VertexCentricQuery(g).onVertices(vid(TpchGraph.OrderTag, o))
            .labels("contains").direction(Direction.OUT)
            .orderBy("extendedprice", asc = false)
            .orderBy("linenumber").orderBy("dst").orderBy("suppkey")
            .limit(2).edges().select(col("other"), col("extendedprice"))
        case Hop3(c) =>
          g.traversal.V(vid(TpchGraph.CustomerTag, c))
            .out("placed").out("contains").in("contains").dedup().values("uid")
        case Multi(cs) =>
          val frontier = spark.createDataFrame(
            java.util.Arrays.asList(cs.map(c => Row(vid(TpchGraph.CustomerTag, c))): _*),
            StructType(Seq(StructField("vid", LongType, nullable = false))))
          VertexCentricQuery(g).onFrontier(frontier).labels("placed")
            .direction(Direction.OUT).edgeCount()
        case w: Write => throw new IllegalArgumentException(s"not a read: $w")
      }
    }
  }

  /** One enforced mutation batch: upsert a customer property, add a
    * `contains` edge, delete a `contains` edge. */
  private def write(g: PropertyGraph, model: Model, w: Write, addId: Long, delId: Long): PropertyGraph = {
    val spark = g.spark
    val c = model.cust(w.cust)
    val v = spark.createDataFrame(java.util.Arrays.asList(
      Row(vid(TpchGraph.CustomerTag, c.key), "customer", c.key, c.name, w.bal, c.segment)),
      StructType(Seq(StructField("id", LongType), StructField("label", StringType),
        StructField("uid", LongType), StructField("name", StringType),
        StructField("acctbal", DoubleType), StructField("mktsegment", StringType))))
    val e = spark.createDataFrame(java.util.Arrays.asList(
      Row(addId, vid(TpchGraph.OrderTag, w.order), vid(TpchGraph.PartTag, w.part), "contains",
        1.0, 999999.0, 0.0, 0.0, "N", "O", Date.valueOf("1998-01-01"),
        8 + (addId - AddedTag * T).toInt % 1000, 1L)),
      StructType(Seq(StructField("id", LongType), StructField("src", LongType),
        StructField("dst", LongType), StructField("label", StringType),
        StructField("quantity", DoubleType), StructField("extendedprice", DoubleType),
        StructField("discount", DoubleType), StructField("tax", DoubleType),
        StructField("returnflag", StringType), StructField("linestatus", StringType),
        StructField("shipdate", DateType), StructField("linenumber", IntegerType),
        StructField("suppkey", LongType))))
    val d = spark.createDataFrame(java.util.Arrays.asList(Row(delId)),
      StructType(Seq(StructField("id", LongType))))
    GraphIO.applyMutations(g, addVertices = Some(v), addEdges = Some(e), deleteEdgeIds = Some(d))
  }
}
