package perfbench

import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `dataprep`: the LLM-data pipeline. Build: dedup the base corpus and write
  * an IVF-PQ index over the survivors. Then each arriving batch is deduped
  * against the corpus, its survivors are appended to the corpus and the index
  * (the writes), and the grown corpus is searched by ANN and BM25 (the reads). */
object Dataprep {
  val Base = 800; val Batches = 40; val BatchSize = 50; val Clusters = 130
  val Setups = 3
  val Threshold = 0.5
  val K = 10
  /** recall floors: near-duplicates the build dedup removes, and exact 5-NN
    * found in the ANN top-10 */
  val NeardupFloor = 0.9
  /** `nearDupAgainst`'s default LSH banding: a pair of Jaccard s becomes a
    * candidate with probability 1 - (1 - s^Rows)^Bands. Every exact pair at
    * least that likely to collide must be found; pairs below it (s < 0.664)
    * may be missed by design. */
  val Bands = 32; val Rows = 4; val MustCollide = 0.999
  def collideP(s: Double): Double = 1.0 - math.pow(1.0 - math.pow(s, Rows), Bands)
  val SearchTruth = 5
  val SearchFloor = 0.5
  val Queries = 8

  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = text.split("\\s+")
    if (w.length < n) Set.empty else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size

  /** Survivors of exact near-dup clustering: candidates share a shingle, pairs
    * at or above the threshold are merged, the minimum id of each cluster
    * survives. */
  def referenceDedup(docs: Seq[Gen.Doc]): Set[Long] = {
    val sh = docs.map(d => d.id -> shingles(d.text)).toMap
    val byShingle = mutable.HashMap.empty[String, ArrayBuffer[Long]]
    for ((id, s) <- sh; x <- s) byShingle.getOrElseUpdate(x, ArrayBuffer.empty) += id
    val idx = docs.map(_.id).zipWithIndex.toMap
    val uf = new Ref.UnionFind(docs.size)
    val tried = mutable.HashSet.empty[(Long, Long)]
    for (ids <- byShingle.values; a <- ids; b <- ids if a < b && tried.add((a, b)))
      if (jaccard(sh(a), sh(b)) >= Threshold) uf.union(idx(a), idx(b))
    docs.groupBy(d => uf.find(idx(d.id))).values.map(_.map(_.id).min).toSet
  }

  /** BM25 over the harness's copy of the corpus, the engine's formula and
    * tie-break: (doc id, score rounded to 6 places), best first. */
  def referenceBm25(docs: Iterable[Gen.Doc], terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Double)] = {
    val toks = docs.map(d => d.id -> d.text.split("\\s+")).toSeq
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.length.toDouble).sum / n
    val lower = toks.map { case (id, t) => (id, t.map(_.toLowerCase), t.length.toDouble) }
    val df = terms.map(t => t -> lower.count(_._2.contains(t)).toDouble).toMap
    lower.flatMap { case (id, t, dl) =>
      val parts = terms.map { term =>
        val tf = t.count(_ == term).toDouble
        if (tf == 0) None else {
          val idf = math.log((n - df(term) + 0.5) / (df(term) + 0.5) + 1.0)
          Some(idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)))
        }
      }
      if (parts.forall(_.isEmpty)) None
      else Some(id -> BigDecimal(parts.map(_.getOrElse(0.0)).reduceLeft(_ + _))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Exact near-duplicate pairs (batch doc, corpus doc) with Jaccard at or
    * above the threshold: candidates share a shingle. */
  def referenceNearDup(batch: Seq[Gen.Doc], corpus: Iterable[Gen.Doc],
      sh: Gen.Doc => Set[String]): Map[(Long, Long), Double] = {
    val byShingle = mutable.HashMap.empty[String, ArrayBuffer[Gen.Doc]]
    for (d <- corpus; x <- sh(d)) byShingle.getOrElseUpdate(x, ArrayBuffer.empty) += d
    batch.flatMap { a =>
      val sa = sh(a)
      sa.flatMap(x => byShingle.getOrElse(x, Nil))
        .map(b => (a.id, b.id) -> jaccard(sa, sh(b))).filter(_._2 >= Threshold)
    }.toMap
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))
  private val VecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  private def docsDf(spark: SparkSession, ds: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ds.map(d => Row(d.id, d.text)): _*), DocSchema)
  private def vecsDf(spark: SparkSession, ds: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ds.map { case (i, v) => Row(i, v.toSeq) }: _*), VecSchema)

  def run(ctx: Ctx): Result = {
    val gen = Gen.corpus(ctx.seed, Base, Batches, BatchSize, Clusters)
    val rnd = new SplittableRandom(ctx.seed * 31L + 7)
    val termSets = Seq.fill(Batches)(Seq.fill(3)(gen.vocab(50 + rnd.nextInt(450))).distinct)

    // set-up, repeated: session start + persist the generated corpus + one warm-up op
    val setups = ArrayBuffer.empty[Double]; val loads = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var base: DataFrame = null; var baseVecs: DataFrame = null
    for (_ <- 0 until Setups) {
      if (spark != null) Harness.stop(spark)
      val t0 = System.nanoTime()
      spark = Harness.session(ctx, ctx.trace)
      val t1 = System.nanoTime()
      base = docsDf(spark, gen.base.toSeq).persist(StorageLevel.MEMORY_AND_DISK)
      baseVecs = vecsDf(spark, gen.base.toSeq.map(d => d.id -> d.vec)).persist(StorageLevel.MEMORY_AND_DISK)
      base.count(); baseVecs.count()
      loads += Harness.secs(System.nanoTime() - t1)
      TextAnalysis.bm25TopK(base, termSets.head, K).collect()
      setups += Harness.secs(System.nanoTime() - t0)
    }
    Harness.mark("set-up done")
    val rec = new Recorder(spark, ctx.trace)
    val ops = ArrayBuffer.empty[OpRec]; val passes = ArrayBuffer.empty[Double]
    val heap = new Harness.Heap
    val failures = mutable.LinkedHashMap.empty[String, Int]
    val recalls = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def log(kind: String, cat: String, ns: Long, ok: Boolean): Unit = {
      if (!ok) failures(kind) = failures.getOrElse(kind, 0) + 1
      ops += OpRec(kind, cat, ns, ok, rec.tracing, rec.lastOp)
    }
    def attempt[T](kind: String)(body: => T): (Option[T], Long) = {
      val before = graft.core.PlanCache.entryCount(spark)
      val (v, ns) = rec.op(kind) {
        try Some(body) catch { case e: Exception =>
          System.err.println(s"[perfbench] dataprep $kind failed: $e"); None }
      }
      if (rec.tracing && rec.lastOp >= 0) {
        val delta = graft.core.PlanCache.entryCount(spark) - before
        rec.counts.getOrElseUpdate(rec.lastOp, mutable.LinkedHashMap.empty)("plancache_new") = delta
      }
      (v, ns)
    }

    // build: dedup the base corpus, write the index over the survivors
    val corpusPath = s"${ctx.dir}/corpus"
    val indexPath = s"${ctx.dir}/ivfpq"
    val (kept, dedupNs) = attempt("dedup") {
      rec.phase("pipeline", "pipeline.dedup")(Dedup.dedupDocuments(base, Threshold))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    // MinHash LSH is approximate: a near-duplicate pair can miss every band.
    // The build must remove only true near-duplicates, and at least the
    // recall floor of the documents exact clustering removes.
    val refKeep = referenceDedup(gen.base.toSeq)
    val keep = kept.getOrElse(refKeep)
    val allIds = gen.base.map(_.id).toSet
    val (refRemoved, removed) = (allIds diff refKeep, allIds diff keep)
    val dedupRecall = if (refRemoved.isEmpty) 1.0 else (removed intersect refRemoved).size.toDouble / refRemoved.size
    recalls.getOrElseUpdate("dedup", ArrayBuffer.empty) += dedupRecall
    log("dedup", "build", dedupNs, kept.isDefined && removed.subsetOf(refRemoved) && dedupRecall >= NeardupFloor)
    val corpus = mutable.LinkedHashMap.empty[Long, Gen.Doc] ++ gen.base.filter(d => keep(d.id)).map(d => d.id -> d)
    val (indexed, indexNs) = attempt("index_write") {
      rec.phase("pipeline", "pipeline.index_write") {
        base.filter(col("doc_id").isin(keep.toSeq: _*)).write.parquet(corpusPath)
        Similarity.writeIvfPqIndex(baseVecs.filter(col("vec_id").isin(keep.toSeq: _*)), indexPath,
          nlist = 8, m = 4, codes = 16, rounds = 1)
      }
    }
    log("index_write", "build", indexNs, indexed.isDefined)
    val build = Harness.secs(dedupNs + indexNs)

    val queryVecs = (0 until Queries).map(q => (-1L - q) -> gen.base(q * 97 % gen.base.length).vec)
    val shingled = mutable.HashMap.empty[Long, Set[String]]
    def sh(d: Gen.Doc): Set[String] = shingled.getOrElseUpdate(d.id, shingles(d.text))
    val measured = Harness.loop(ctx.seconds, minCycles = if (ctx.trace) 2 else 1) { i =>
      rec.startCycle(i)
      val batch = gen.batches(i % Batches).map(d => if (i < Batches) d else d.copy(id = d.id + i * 1000000L))
      // the batch's reference pairs depend only on the corpus before it: computed outside the cycle
      val truth = referenceNearDup(batch.toSeq, corpus.values, sh)
      val c0 = System.nanoTime()
      val corpusDf = spark.read.parquet(corpusPath)
      // 1. near-duplicates of the batch against the corpus
      val (pairs, ndNs) = attempt("neardup") {
        Harness.query(rec)(rec.phase("pipeline", "pipeline.neardup")(
          Dedup.nearDupAgainst(corpusDf, docsDf(spark, batch.toSeq), Threshold)))
      }
      val got = pairs.getOrElse(Array.empty[Row]).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val exact = got.forall { case (a, b, j) => truth.get((a, b)).exists(t => math.abs(t - j) < 1e-9) }
      // A planted copy is not always a near-duplicate (edits can take it below
      // the threshold), so recall is measured against the exact pairs.
      val found = got.map(p => (p._1, p._2)).toSet
      val ndRecall = if (truth.isEmpty) 1.0 else truth.keys.count(found).toDouble / truth.size
      val mustFind = truth.filter { case (_, j) => collideP(j) >= MustCollide }.keySet
      recalls.getOrElseUpdate("neardup", ArrayBuffer.empty) += ndRecall
      log("neardup", "stage", ndNs, pairs.isDefined && exact && mustFind.subsetOf(found))
      // 2. append the survivors to the corpus and the index
      val dups = got.map(_._1).toSet
      val survivors = batch.filterNot(d => dups(d.id)).toSeq
      val (appended, apNs) = attempt("append") {
        rec.phase("pipeline", "pipeline.index_append") {
          docsDf(spark, survivors).write.mode("append").parquet(corpusPath)
          graft.core.PlanCache.invalidatePath(spark, corpusPath)
          Similarity.appendToIvfPqIndex(spark, indexPath, vecsDf(spark, survivors.map(d => d.id -> d.vec)))
        }
      }
      if (appended.isDefined) survivors.foreach(d => corpus(d.id) = d)
      log("append", "write", apNs, appended.isDefined)
      // 3. ANN search over the grown index
      val (hits, seNs) = attempt("search") {
        Harness.query(rec)(rec.phase("pipeline", "pipeline.search")(
          Similarity.searchIvfPqIndex(spark, indexPath, vecsDf(spark, queryVecs), K, nprobe = 4)))
      }
      val sRecall = hits.map { rows =>
        val got = rows.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        Stats.mean(queryVecs.map { case (q, v) =>
          val truth = corpus.values.toSeq.map(d => (d.id, cosine(v, d.vec)))
            .sortBy { case (id, c) => (-c, id) }.take(SearchTruth).map(_._1).toSet
          got.getOrElse(q, Array.empty).count(x => truth(x._2)).toDouble / SearchTruth
        })
      }.getOrElse(0.0)
      recalls.getOrElseUpdate("search", ArrayBuffer.empty) += sRecall
      log("search", "read", seNs, hits.isDefined && sRecall >= SearchFloor)
      // 4. BM25 over the grown corpus
      val terms = termSets(i % Batches)
      val (top, bmNs) = attempt("bm25") {
        Harness.query(rec)(rec.phase("pipeline", "pipeline.bm25")(
          TextAnalysis.bm25TopK(spark.read.parquet(corpusPath), terms, K)))
      }
      val bmOk = top.exists { rows =>
        val want = referenceBm25(corpus.values, terms, K)
        val have = rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val cut = want.lastOption.map(_._2).getOrElse(0.0)
        have.size == want.size && have.zip(want).forall { case (h, w) => math.abs(h._2 - w._2) < 2e-6 } &&
          want.filter(_._2 > cut + 2e-6).forall(w => have.exists(_._1 == w._1))
      }
      log("bm25", "read", bmNs, bmOk)
      passes += Harness.secs(System.nanoTime() - c0)
      heap.sample()
    }
    rec.tracing = false
    Harness.mark("measured")
    rec.finish()

    val loopOps = ops.filter(_.cat != "build")
    val notes = ArrayBuffer(s"dataprep base=${gen.base.length} kept=${keep.size} batch=$BatchSize " +
      s"batches_run=${passes.size} corpus_final=${corpus.size} " +
      f"docs_per_s=${passes.size * BatchSize / measured}%.1f " +
      recalls.map { case (k, v) => f"${k}_recall_mean=${Stats.mean(v.toSeq)}%.3f" }.mkString(" "))
    failures.foreach { case (k, n) => notes += s"dataprep failed $k x$n" }
    val layer = if (ctx.trace) {
      notes ++= Harness.selfTable(rec, ops.toSeq, "dataprep")
      def stageMs(kind: String) = {
        val v = loopOps.filter(o => o.traced && o.kind == kind)
        (Stats.mean(v.map(o => Harness.millis(o.ns))), v.size)
      }
      Harness.layerMetrics(rec, ops.toSeq, Map(
        "data.load_s" -> ((Stats.median(loads.toSeq), loads.size)),
        "pipeline.dedup_s" -> ((Harness.secs(dedupNs), 1)),
        "pipeline.index_write_s" -> ((Harness.secs(indexNs), 1)),
        "pipeline.neardup_ms" -> stageMs("neardup"),
        "pipeline.index_append_ms" -> stageMs("append"),
        "pipeline.search_ms" -> stageMs("search"),
        "pipeline.bm25_ms" -> stageMs("bm25"),
        "pipeline.neardup_recall" -> ((Stats.mean(recalls.getOrElse("neardup", ArrayBuffer.empty[Double]).toSeq), passes.size)),
        "pipeline.search_recall" -> ((Stats.mean(recalls.getOrElse("search", ArrayBuffer.empty[Double]).toSeq), passes.size))))
    } else Nil
    Harness.stop(spark)
    Result(ops.size, ops.count(!_.ok),
      Harness.e2e(ops.toSeq, passes.toSeq, setups.toSeq, Seq(build), heap, measured), layer, notes.toSeq,
      if (ctx.trace) rec.toJson else "")
  }
}
