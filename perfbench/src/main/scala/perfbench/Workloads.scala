package perfbench

import scala.collection.mutable

import graft.Graft
import graft.operators.{HashingEmbedder, Ingest, IvfIndex, NearDup, ShardedHome, ShardedIvf}
import graft.schemas.{Chunk, Schemas}
import graft.text.Chunker
import graft.sources.{ChunkStore, VectorIndexStore}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import Main.{median, percentile}

/** File helpers shared by the workloads. */
object Io {
  def writeDocs(spark: SparkSession, docs: Seq[GenDoc], path: String, files: Int): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, "en", d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(files)
      .write.parquet(path)
  }

  def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }

  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  def writeText(dir: String, name: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The input properties every workload records. */
  def inputs(docs: Long, chars: Long, exactShare: Double, nearShare: Double,
             tranche: Int, deleteShare: Double): Seq[(String, Any)] = Seq(
    "docs" -> docs, "chars" -> chars, "exact_dup_share" -> exactShare,
    "near_dup_share" -> nearShare, "tranche_size" -> tranche,
    "delete_share" -> deleteShare, "vector_dim" -> Schemas.VectorDimensions)

  def share(pairs: Int, docs: Int): Double = if (docs == 0) 0.0 else pairs.toDouble / docs
}

/** Per-layer figures from the ledger's spans and the engine events. */
final class Layers(c: Ctx) {
  val out: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def seconds(name: String): Seq[Double] =
    c.led.named(name).map(s => (s.endMs - s.startMs) / 1000.0)

  /** Engine work that started inside any span with one of these names. */
  def work(names: String*): Work =
    c.events.map { ev =>
      names.flatMap(c.led.named).map(s => ev.window(s.startMs, s.endMs))
        .foldLeft(Work.zero)(_ + _)
    }.getOrElse(Work.zero)

  /** The `spark.*` rows for the engine work inside `names`, per `ops`. */
  def spark(ops: Int, names: String*): Unit = {
    val w = work(names: _*)
    val wall = names.flatMap(seconds).sum
    val n = math.max(1, ops).toDouble
    out("spark.jobs") = w.jobs / n
    out("spark.stages") = w.stages / n
    out("spark.tasks") = w.tasks / n
    out("spark.sql_execs") = w.sqlExecs / n
    out("spark.job_busy_s") = w.busyMs / 1000.0 / n
    out("spark.driver_only_s") = math.max(0.0, wall - w.busyMs / 1000.0) / n
    out("spark.plan_ms") = w.planMs / n
    out("spark.shuffle_write_mb") = w.shuffleWriteBytes / (1024.0 * 1024.0) / n
    out("spark.input_rows") = w.inputRows / n
  }
}

/** `bulk_ingest`: the reference's whole program as one batch job, repeated
  * from an empty store for the run's seconds. One cycle: load 1 (Graft.ingest
  * → ChunkStore.upsert into an empty store), load 2 (the same corpus plus
  * ~10% new documents into that store), then near-dup curation
  * (Graft.nearDupPairs → Graft.dupClusters) over the load-2 corpus.
  */
final class BulkIngest(c: Ctx) extends Workload {
  import c.spark
  import c.spark.implicits._

  private var load1 = ""
  private var load2 = ""
  private var corpus1: Corpus = _
  private var corpus2: Corpus = _
  private var docs1 = 0
  private var docs2 = 0
  private var exp1 = Map.empty[String, Expected.Row]
  private var exp2 = Map.empty[String, Expected.Row]
  private var offered2 = 0
  private var planted = Seq.empty[(Long, Long)]
  private var inputs = Seq.empty[(String, Any)]
  private var lastStore = ""

  def setup(): Unit = {
    val s = c.sizes
    val g = new Gen(c.seed)
    val base = g.corpus("bulk", s.bulkDocs, 1, s.exactShare, s.nearShare)
    val extra = g.corpus("bulk-new", math.max(1, math.round(s.bulkDocs * s.newShare).toInt),
      s.bulkDocs + 1L, s.exactShare, s.nearShare)
    val all = base.docs ++ extra.docs
    load1 = c.dir("input/load1")
    load2 = c.dir("input/load2")
    Io.writeDocs(spark, base.docs, load1, c.cpus)
    Io.writeDocs(spark, all, load2, c.cpus)
    corpus1 = base
    corpus2 = extra
  }

  def prepare(): Unit = {
    val all = corpus1.docs ++ corpus2.docs
    docs1 = corpus1.docs.size
    docs2 = all.size
    exp1 = Expected.survivors(Expected.chunks(corpus1.docs))
    val s2 = Expected.survivors(Expected.chunks(all))
    exp2 = exp1 ++ s2.filter { case (h, _) => !exp1.contains(h) }
    offered2 = s2.size
    planted = Seq(corpus1, corpus2).flatMap(cp => cp.exactPairs ++ cp.nearPairs)
    inputs = Io.inputs(docs2, corpus1.chars + corpus2.chars,
      Io.share(corpus1.exactPairs.size + corpus2.exactPairs.size, docs2),
      Io.share(corpus1.nearPairs.size + corpus2.nearPairs.size, docs2), 0, 0.0) ++
      Seq("docs_load1" -> docs1, "chunks_load1" -> exp1.size, "chunks_load2" -> exp2.size)
  }

  /** One load. Traced, the fused Graft.ingest is split at each layer
    * boundary (chunk, dedup, embed, upsert) over cached intermediates.
    */
  private def load(docsPath: String, store: String, storeSpan: String): Unit = {
    val docs = spark.read.parquet(docsPath)
    if (!c.led.enabled) ChunkStore.upsert(spark, Graft.ingest(spark, docs), store)
    else {
      val chunks = c.led.span("text.chunk") {
        val ch = Graft.chunk(spark, docs).persist()
        ch.write.format("noop").mode("overwrite").save()
        ch
      }
      c.led.add("text.chunks", chunks.count().toDouble)
      val deduped = c.led.span("ingest.dedup") {
        val d = Ingest.dedupExactDeterministic(chunks, Seq("filename", "chunk_id", "id"))
          .persist()
        d.count()
        d
      }
      c.led.add("ingest.kept", deduped.count().toDouble)
      val embedded = c.led.span("embed.embed") {
        val e = Ingest.withEmbeddings(spark, deduped.as[Chunk], new HashingEmbedder()).persist()
        e.write.format("noop").mode("overwrite").save()
        e
      }
      c.led.add("embed.vectors", embedded.count().toDouble)
      c.led.span(storeSpan) { ChunkStore.upsert(spark, Ingest.toCanonical(embedded), store) }
      Seq(chunks, deduped, embedded).foreach(_.unpersist())
    }
  }

  private def neardup(): Array[(Long, Long)] = {
    val docs = spark.read.parquet(load2).select("doc_id", "text")
    if (!c.led.enabled)
      Graft.dupClusters(spark, Graft.nearDupPairs(spark, docs)).as[(Long, Long)].collect()
    else {
      val pairs = c.led.span("neardup.pairs") {
        NearDup.minhashNearDupPairs(spark, docs, 0.5).localCheckpoint()
      }
      c.led.add("neardup.pairs", pairs.count().toDouble)
      c.led.span("neardup.cc") {
        NearDup.connectedComponents(spark, pairs).as[(Long, Long)].collect()
      }
    }
  }

  private def storeRows(store: String): Seq[(String, String)] =
    ChunkStore.read(spark, store).select("id", "text_hash").as[(String, String)]
      .collect().toSeq

  private def checkStore(store: String, exp: Map[String, Expected.Row], what: String): Int = {
    val rows = storeRows(store)
    val want = exp.values.map(r => (r.id, r.hash))
    c.check(rows.size == exp.size && Expected.digest(rows) == Expected.digest(want),
      s"$what: store has ${rows.size} rows, expected ${exp.size} (digest mismatch or count)")
    rows.size
  }

  private def plantedRecall(clusters: Array[(Long, Long)]): Double = {
    val label = clusters.toMap
    val hit = planted.count { case (a, b) =>
      label.get(a).exists(la => label.get(b).contains(la))
    }
    if (planted.isEmpty) 1.0 else hit.toDouble / planted.size
  }

  def run(): Outcome = {
    val l1 = mutable.ArrayBuffer.empty[Double]
    val l2 = mutable.ArrayBuffer.empty[Double]
    val nd = mutable.ArrayBuffer.empty[Double]
    val recall = mutable.ArrayBuffer.empty[Double]
    var written2 = 0.0
    val t0 = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      if (lastStore.nonEmpty) Io.delete(lastStore)
      val store = c.dir(s"store-$k")
      lastStore = store
      c.led.span("bulk.cycle") {
        val (s1, _) = c.op("bulk.load1")(load(load1, store, "chunkstore.upsert"))
        val rows1 = checkStore(store, exp1, "load1")
        val (s2, _) = c.op("bulk.load2")(load(load2, store, "chunkstore.reupsert"))
        val rows2 = checkStore(store, exp2, "load2")
        written2 += rows2 - rows1
        val (s3, clusters) = c.op("bulk.neardup")(neardup())
        val r = plantedRecall(clusters)
        c.check(r == 1.0, f"neardup: only $r%.4f of ${planted.size} planted pairs share a cluster")
        l1 += s1; l2 += s2; nd += s3; recall += r
      }
      k += 1
    }
    val timed = (System.nanoTime() - t0) / 1e9
    val cycle = l1.indices.map(i => l1(i) + l2(i) + nd(i))

    val lay = new Layers(c)
    if (c.led.enabled) {
      val n = k.toDouble
      def perCycle(span: String) = lay.seconds(span).sum / n
      val ctr = c.led.counters
      lay.out("text.chunk_s") = perCycle("text.chunk")
      lay.out("text.chunks") = ctr.getOrElse("text.chunks", 0.0) / n
      lay.out("ingest.dedup_s") = perCycle("ingest.dedup")
      lay.out("ingest.dedup_keep_ratio") =
        ctr.getOrElse("ingest.kept", 0.0) / math.max(1.0, ctr.getOrElse("text.chunks", 0.0))
      lay.out("embed.embed_s") = perCycle("embed.embed")
      lay.out("embed.vectors") = ctr.getOrElse("embed.vectors", 0.0) / n
      lay.out("chunkstore.upsert_s") = perCycle("chunkstore.upsert")
      lay.out("chunkstore.reupsert_s") = perCycle("chunkstore.reupsert")
      lay.out("chunkstore.reupsert_new_ratio") = written2 / n / math.max(1, offered2)
      lay.out("chunkstore.files") = Io.parquetFiles(lastStore).toDouble
      lay.out("neardup.pairs_s") = perCycle("neardup.pairs")
      lay.out("neardup.cc_s") = perCycle("neardup.cc")
      lay.out("neardup.pairs") = ctr.getOrElse("neardup.pairs", 0.0) / n
      lay.out("neardup.jobs") = lay.work("neardup.pairs", "neardup.cc").jobs / n
      lay.out("neardup.planted_recall") = median(recall.toSeq)
      // the layer calls only: the store checks and the traced run's own
      // counts between them are the benchmark's work, not the engine's
      lay.spark(k, "text.chunk", "ingest.dedup", "embed.embed", "chunkstore.upsert",
        "chunkstore.reupsert", "neardup.pairs", "neardup.cc")
    }
    Outcome(
      endToEnd = Map(
        "build_s" -> M(median(l1.toSeq), "s"),
        "op_p50_ms" -> M(median(cycle) * 1000, "ms")),
      named = Seq(
        "ingest_docs_per_s" -> M(docs1 / median(l1.toSeq), "docs/s"),
        "reingest_docs_per_s" -> M(docs2 / median(l2.toSeq), "docs/s"),
        "neardup_docs_per_s" -> M(docs2 / median(nd.toSeq), "docs/s"),
        "cycles" -> M(k, "count")),
      inputs = inputs ++ Seq("load1_s" -> l1, "load2_s" -> l2, "neardup_s" -> nd),
      layers = lay.out.toMap, timedSeconds = timed)
  }

  def corruptionCaught(): Boolean = {
    // drop one chunk row from the last store; its check must fail
    val victim = storeRows(lastStore).head._2
    ChunkStore.delete(spark, lastStore, Seq(victim).toDF("text_hash"))
    val before = c.failed
    checkStore(lastStore, exp2, "corrupted store")
    c.failed > before
  }
}

/** `ann_serve`: build a persisted IVF index and a 2-shard IVF-PQ index from
  * the engine's own 1536-d chunk embeddings, then one closed-loop client
  * sends each top-10 query to both indexes for the run's seconds.
  */
final class AnnServe(c: Ctx) extends Workload {
  import c.spark
  import c.spark.implicits._
  private val K = 10
  // the first request pays the probe paths' one-time JVM costs (class
  // loading, JIT, code generation); it is checked but not timed
  private val WarmRequests = 1
  private val MinRequests = 3

  private var corpusPath = ""
  private var vectors = Map.empty[Long, Array[Float]]
  private var panel = IndexedSeq.empty[Long]
  private var truth = Map.empty[Long, Seq[Long]]
  private var inputs = Seq.empty[(String, Any)]
  private def ivfPath = c.dir("ivf")
  private def spqPath = c.dir("spq")
  private def corpus: DataFrame = spark.read.parquet(corpusPath)

  private var gen: Corpus = _

  /** The engine's own embeddings of its own chunks: the first distinct
    * chunks of the generated documents, cut by the engine's Chunker (as
    * Graft.ingest cuts them) and embedded by its HashingEmbedder (as
    * Ingest.withEmbeddings embeds them), written as (vec_id, label,
    * embedding) parquet.
    */
  def setup(): Unit = {
    val s = c.sizes
    gen = new Gen(c.seed).corpus("ann", s.annDocs, 1, 0.0, s.nearShare)
    val texts = gen.docs.flatMap(d => Chunker.chunkWithOffsets(d.text).map(_._1)).distinct
    require(texts.size >= s.annVectors, s"corpus yields ${texts.size} chunks, need ${s.annVectors}")
    val emb = new HashingEmbedder()
    val vecs = texts.take(s.annVectors).zipWithIndex.map { case (t, i) => (i + 1L) -> emb.embed(t) }
    corpusPath = c.dir("input/corpus")
    vecs.map { case (id, v) => (id, (id % 4).toInt, v) }
      .toDF("vec_id", "label", "embedding").repartition(c.cpus)
      .write.parquet(corpusPath)
    vectors = vecs.toMap
  }

  /** The query panel and its exact top-10 ground truth (Graft.knn). */
  def prepare(): Unit = {
    val r = new java.util.Random(c.seed * 31 + 7)
    val ids = vectors.keys.toIndexedSeq.sorted
    panel = r.ints(0, ids.size).distinct().limit(c.sizes.queries.toLong).toArray
      .toIndexedSeq.map(ids)
    truth = panel.map { q =>
      q -> Graft.knn(corpus, vectors(q), K).select("vec_id").as[Long].collect().toSeq
    }.toMap
    inputs = Io.inputs(gen.docs.size, gen.chars, 0.0, Io.share(gen.nearPairs.size, gen.docs.size),
      0, 0.0) ++ Seq("vectors" -> vectors.size, "queries" -> panel.size)
  }

  private def buildIvf(): Unit =
    if (!c.led.enabled) Graft.saveIvfIndex(spark, corpus, ivfPath)
    else {
      // the calls Graft.saveIvfIndex makes, one span each
      val model = c.led.span("ivf.train")(IvfIndex.train(spark, corpus, 16))
      c.led.span("ivf.assign_save") {
        IvfIndex.save(spark, model, IvfIndex.assign(spark, corpus, model), ivfPath)
      }
      c.led.span("ivf.stats")(IvfIndex.distortionStats(spark, corpus, model).collect())
    }

  private def ids(rows: Array[org.apache.spark.sql.Row]): Seq[Long] =
    rows.map(_.getAs[Long]("vec_id")).toSeq

  private def ivfQuery(q: Long): Seq[Long] = {
    val df = c.led.span("ivf.probe_plan")(Graft.ivfProbe(spark, ivfPath, vectors(q), K))
    ids(c.led.span("ivf.probe_exec")(df.collect()))
  }

  private def spqQuery(q: Long): Seq[Long] =
    ids(c.led.span("spq.probe") {
      Graft.shardedPqKnn(spark, spqPath, c.sizes.spqShards, corpus, vectors(q), K).collect()
    })

  private def recall(q: Long, got: Seq[Long]): Double =
    got.toSet.intersect(truth(q).toSet).size.toDouble / K

  private def checkAnswer(what: String, q: Long, got: Seq[Long], selfHit: Boolean): Boolean =
    c.check(got.size == K && got.distinct.size == K && got.forall(vectors.contains) &&
      (!selfHit || got.contains(q)),
      s"$what query $q: answer ${got.take(K).mkString(",")} " +
        (if (selfHit) "must hold the query's own vector" else "must be 10 distinct corpus ids"))

  def run(): Outcome = {
    val (ivfBuild, _) = c.op("ann.ivf_build")(buildIvf())
    val (spqBuild, _) = c.led.span("spq.build") {
      c.op("ann.spq_build")(Graft.buildShardedPq(spark, corpus, spqPath, c.sizes.spqShards))
    }
    val ivfLat = mutable.ArrayBuffer.empty[Double]
    val spqLat = mutable.ArrayBuffer.empty[Double]
    val ivfRecall = mutable.ArrayBuffer.empty[Double]
    val spqRecall = mutable.ArrayBuffer.empty[Double]
    def serve(q: Long): (Double, Double) = {
      val (a, gotIvf) = c.op("ann.ivf_query")(ivfQuery(q))
      val (b, gotSpq) = c.op("ann.spq_query")(spqQuery(q))
      checkAnswer("ivf", q, gotIvf, selfHit = true)
      checkAnswer("spq", q, gotSpq, selfHit = false)
      ivfRecall += recall(q, gotIvf)
      spqRecall += recall(q, gotSpq)
      (a, b)
    }
    panel.take(WarmRequests).foreach(q => c.led.quiet("ann.warm_request")(serve(q)))
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinRequests || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val (a, b) = c.led.span("ann.request")(serve(panel((WarmRequests + i) % panel.size)))
      ivfLat += a; spqLat += b
      i += 1
    }
    val timed = (System.nanoTime() - t0) / 1e9 + ivfBuild + spqBuild
    val request = ivfLat.indices.map(j => ivfLat(j) + spqLat(j))

    val lay = new Layers(c)
    if (c.led.enabled) {
      def one(span: String) = lay.seconds(span).sum
      def perQuery(span: String) = lay.seconds(span).sum * 1000 / i
      lay.out("ivf.train_s") = one("ivf.train")
      lay.out("ivf.assign_save_s") = one("ivf.assign_save")
      lay.out("ivf.stats_s") = one("ivf.stats")
      lay.out("ivf.probe_plan_ms") = perQuery("ivf.probe_plan")
      lay.out("ivf.probe_exec_ms") = perQuery("ivf.probe_exec")
      val iw = lay.work("ivf.probe_plan", "ivf.probe_exec")
      lay.out("ivf.jobs_per_query") = iw.jobs.toDouble / i
      lay.out("ivf.rows_read_per_query") = iw.inputRows.toDouble / i
      lay.out("spq.build_s") = one("spq.build")
      lay.out("spq.probe_exec_ms") = perQuery("spq.probe")
      val sw = lay.work("spq.probe")
      lay.out("spq.jobs_per_query") = sw.jobs.toDouble / i
      lay.out("spq.rows_read_per_query") = sw.inputRows.toDouble / i
      lay.spark(i, "ann.ivf_query", "ann.spq_query")
    }
    Outcome(
      endToEnd = Map(
        "build_s" -> M(ivfBuild + spqBuild, "s"),
        "op_p50_ms" -> M(median(request) * 1000, "ms")),
      named = Seq(
        "ivf_build_s" -> M(ivfBuild, "s"),
        "ivf_p50_ms" -> M(median(ivfLat.toSeq) * 1000, "ms"),
        "ivf_p90_ms" -> M(percentile(ivfLat.toSeq, 0.9) * 1000, "ms"),
        "spq_build_s" -> M(spqBuild, "s"),
        "spq_p50_ms" -> M(median(spqLat.toSeq) * 1000, "ms"),
        "recall_at_10" -> M(ivfRecall.sum / ivfRecall.size, "ratio"),
        "spq_recall_at_10" -> M(spqRecall.sum / spqRecall.size, "ratio"),
        "requests" -> M(i, "count")),
      inputs = inputs ++ Seq("ivf_ms" -> ivfLat.map(_ * 1000), "spq_ms" -> spqLat.map(_ * 1000)),
      layers = lay.out.toMap, timedSeconds = timed)
  }

  def corruptionCaught(): Boolean = {
    // remove a query's own vector from the IVF index; its self-hit check must fail
    val q = panel.head
    VectorIndexStore.deleteIvf(spark, ivfPath, Seq(q).toDF("vec_id"))
    val before = c.failed
    checkAnswer("corrupted ivf", q, ivfQuery(q), selfHit = true)
    c.failed > before
  }
}

/** `stream_maintain`: tranches of `doc_*.txt` arrivals plus `del_*.txt`
  * takedown markers, staged one tranche at a time and drained by
  * StreamingOps.arrivalCdcShardedIngest into a 2-shard IVF home; after each
  * drain the tranche's probe document must be top-1 of its own vector
  * (Graft.shardedKnn) and every deleted id must be gone.
  */
final class StreamMaintain(c: Ctx) extends Workload {
  import c.spark
  import c.spark.implicits._

  private final case class Tranche(docs: Seq[GenDoc], deletes: Seq[Long], probe: GenDoc,
                                   probeVec: Array[Float])
  private var build: Tranche = _
  private var tranches = IndexedSeq.empty[Tranche]
  private var inputs = Seq.empty[(String, Any)]
  private var srcDir = ""
  private var home = ""
  private var ckpt = ""
  private val deleted = mutable.ArrayBuffer.empty[Long]
  private val MinTranches = 2

  def setup(): Unit = {
    val s = c.sizes
    val emb = new HashingEmbedder()
    val docs = new Gen(c.seed).corpus("stream",
      s.streamBuildDocs + s.maxTranches * s.trancheDocs, 1, 0.0, 0.0).docs
    val r = new java.util.Random(c.seed * 17 + 3)
    def tranche(ds: Seq[GenDoc], dels: Seq[Long]) = {
      val p = ds(r.nextInt(ds.size))
      Tranche(ds, dels, p, emb.embed(p.text))
    }
    build = tranche(docs.take(s.streamBuildDocs), Nil)
    // deletes pick landed, never-probed, not-yet-deleted documents
    val landed = mutable.ArrayBuffer(build.docs.map(_.id).filter(_ != build.probe.id): _*)
    val perTranche = math.max(1, math.round(s.trancheDocs * s.deleteShare).toInt)
    tranches = (0 until s.maxTranches).map { t =>
      val ds = docs.slice(s.streamBuildDocs + t * s.trancheDocs,
        s.streamBuildDocs + (t + 1) * s.trancheDocs)
      val dels = (0 until perTranche).map(_ => landed.remove(r.nextInt(landed.size)))
      val tr = tranche(ds, dels)
      landed ++= ds.map(_.id).filter(_ != tr.probe.id)
      tr
    }
    inputs = Io.inputs(docs.size, docs.map(_.text.length.toLong).sum, 0.0, 0.0,
      s.trancheDocs, perTranche.toDouble / s.trancheDocs) ++
      Seq("build_docs" -> s.streamBuildDocs, "shards" -> s.streamShards)
    srcDir = c.dir("stream/src")
    home = c.dir("stream/home")
    ckpt = c.dir("stream/ckpt")
    new java.io.File(srcDir).mkdirs()
  }

  def prepare(): Unit = ()

  private def stage(t: Tranche): Unit = {
    t.docs.foreach(d => Io.writeText(srcDir, f"doc_${d.id}%06d.txt", d.text))
    t.deletes.foreach(id => Io.writeText(srcDir, f"del_$id%06d.txt", "tombstone"))
  }

  private def probe(t: Tranche): Seq[Long] = c.led.span("stream.probe") {
    val (dir, shards) = ShardedHome.serving(home).getOrElse(
      throw new IllegalStateException(s"no serving generation at $home"))
    Graft.shardedKnn(spark, dir, shards, t.probeVec, 10).select("vec_id").as[Long]
      .collect().toSeq
  }

  private def checkFresh(t: Tranche, got: Seq[Long]): Boolean =
    c.check(got.headOption.contains(t.probe.id),
      s"tranche probe ${t.probe.id} is not top-1 of its own vector (got ${got.take(3)})")

  private def checkDeleted(): Unit = if (deleted.nonEmpty) {
    val (dir, shards) = ShardedHome.serving(home).get
    val left = (0 until shards).map { r =>
      IvfIndex.loadVectors(spark, s"$dir/shard=$r")
        .filter(col("vec_id").isin(deleted.toSeq: _*)).count()
    }.sum
    c.check(left == 0, s"$left deleted ids still served")
  }

  /** Stage, drain, probe: returns (seconds from staging to probe answer, answer). */
  private def arrive(t: Tranche, opName: String): (Double, Seq[Long]) =
    c.op(opName) {
      stage(t)
      c.led.span("stream.drain") {
        StreamingOps.arrivalCdcShardedIngest(spark, srcDir, "*.txt", home,
          c.sizes.streamShards, ckpt)
      }
      probe(t)
    }

  def run(): Outcome = {
    val (buildS, got0) = arrive(build, "stream.build")
    checkFresh(build, got0)
    val fresh = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var n = 0
    while (n < math.min(MinTranches, tranches.size) ||
        ((System.nanoTime() - t0) / 1e9 < c.seconds && n < tranches.size)) {
      val t = tranches(n)
      val (secs, got) = arrive(t, "stream.tranche")
      deleted ++= t.deletes
      checkFresh(t, got)
      checkDeleted()
      fresh += secs
      n += 1
    }
    val timed = (System.nanoTime() - t0) / 1e9 + buildS
    val landedDocs = tranches.take(n).map(_.docs.size).sum

    val lay = new Layers(c)
    c.events.foreach { ev =>
      // per drain after the build tranche: wall, listener durations, jobs
      val drains = c.led.named("stream.drain").drop(1)
      val perDrain = drains.map { d =>
        val bs = ev.batchesIn(d.startMs, d.endMs)
        def sum(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
        val wall = (d.endMs - d.startMs).toDouble
        val batches = math.max(1, bs.count(_.inputRows > 0))
        (wall, sum("triggerExecution"), sum("addBatch"), sum("queryPlanning"),
          sum("walCommit"), ev.window(d.startMs, d.endMs).jobs.toDouble / batches)
      }
      lay.out("stream.drain_s") = median(perDrain.map(_._1 / 1000))
      lay.out("stream.trigger_ms") = median(perDrain.map(_._2))
      lay.out("stream.add_batch_ms") = median(perDrain.map(_._3))
      lay.out("stream.planning_ms") = median(perDrain.map(_._4))
      lay.out("stream.wal_commit_ms") = median(perDrain.map(_._5))
      lay.out("stream.start_stop_ms") = median(perDrain.map(p => p._1 - p._2))
      lay.out("stream.jobs_per_batch") = median(perDrain.map(_._6))
      lay.out("stream.probe_ms") = median(lay.seconds("stream.probe").drop(1).map(_ * 1000))
      val third = math.max(1, drains.size / 3)
      val walls = perDrain.map(_._1)
      lay.out("stream.batch_growth") = median(walls.takeRight(third)) / median(walls.take(third))
      lay.spark(n, "stream.tranche")
    }
    Outcome(
      endToEnd = Map(
        "build_s" -> M(buildS, "s"),
        "op_p50_ms" -> M(median(fresh.toSeq) * 1000, "ms")),
      named = Seq(
        "fresh_p50_s" -> M(median(fresh.toSeq), "s"),
        "stream_docs_per_s" -> M(landedDocs / fresh.sum, "docs/s"),
        "build_tranche_s" -> M(buildS, "s"),
        "tranches" -> M(n, "count")),
      inputs = inputs, layers = lay.out.toMap, timedSeconds = timed)
  }

  def corruptionCaught(): Boolean = {
    // take the first tranche's probe document out of the index; its
    // freshness check must now fail
    val t = tranches(0)
    val (dir, shards) = ShardedHome.serving(home).get
    ShardedIvf.delete(spark, dir, shards, Seq(t.probe.id).toDF("vec_id"))
    val before = c.failed
    checkFresh(t, probe(t))
    c.failed > before
  }
}
