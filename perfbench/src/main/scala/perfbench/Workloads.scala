package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.embed.{Embedder, HashNgramEmbedder}
import graft.similarity.Knn
import graft.sync.Sync
import graft.text.{CorpusPrep, TextAnalysis}

/** What every workload gets: the session, its own work dir, the seed, the
  * timed-phase length and whether this run is traced. Results are raw
  * records; the harness turns them into metrics. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val t0: Long) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val out = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  def ms(ns: Long): Double = (ns - t0) / 1e6
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) log(s"check $name FAILED $detail")
  }

  /** Set up `reps` times and keep the last; each earlier one is torn down.
    * Records each set-up's wall time; the first also covers process and
    * session start. */
  def setups[T](reps: Int, processStartNs: Long)(make: Int => T)(
      close: T => Unit): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (0 until reps).foreach { i =>
      last.foreach(close)
      val start = if (i == 0) processStartNs else System.nanoTime()
      last = Some(make(i))
      times += (System.nanoTime() - start) / 1e9
    }
    out("setup_s") = times.toVector
    log(s"set-up done ($reps)")
    last.get
  }

  /** Run `f` with tracing on; records the FileSystem read ops it made. */
  def traced[T](f: => T): T = {
    val before = FsStats.readOps()
    Trace.enabled = true
    try f finally {
      Trace.enabled = false
      out("fs_read_ops") = FsStats.readOps() - before
    }
  }

  /** Live heap after forced full collections, cached blocks included.
    * Spark's ContextCleaner drops the shuffles and broadcasts of collected
    * plans only after a collection has found them, so this collects until
    * the figure settles; two collections in a row read 185 or 211 MB on
    * runs of the same workload. */
  def recordLiveHeap(): Unit = {
    log("timed phase done")
    val r = Runtime.getRuntime
    def live(): Double = { System.gc(); (r.totalMemory - r.freeMemory) / 1048576.0 }
    var prev = live()
    var cur = prev
    var rounds = 0
    do {
      Thread.sleep(300)
      prev = cur
      cur = live()
      rounds += 1
    } while (rounds < 8 && math.abs(cur - prev) > 1.0)
    out("live_heap_mb") = cur
  }

  def requestRecord(o: Outcome, traced: Boolean, route: String): Map[String, Any] =
    Map("op" -> o.req.op, "step" -> o.req.step, "route" -> route,
      "due_ms" -> ms(o.req.dueNs), "start_ms" -> ms(o.startNs),
      "end_ms" -> ms(o.endNs), "ok" -> o.ok, "traced" -> traced)
}

/** Open-loop `/search` on the `Cli serve --store S --pq-index P`
  * composition, in two steps. First filterless requests, which take the
  * IVFADC+refine path, with nothing else running. Then filtered requests
  * (author, source type and tag, date range), which take the exact fused
  * fp16 scan of the cached store, while `Sync.incremental` lands seeded
  * batches. Incremental sync does not maintain the index, so only the
  * filtered path sees synced rows; the freshness probe is filtered. The
  * steps are apart because mixing the two routes, or reads with syncs,
  * in one latency sample made its percentiles swing from run to run. */
object ServeSync {
  val Rows = 3000
  val K = 10
  // the IVFADC layout `Cli index --type ivfpq` builds. Cells = nprobe, so
  // every request scores every cell: per-request work does not depend on
  // how k-means happened to split a seed's corpus, which made latency and
  // recall swing with the seed
  val Cells = 4
  val PqM = 8
  val PqKsub = 16
  /** One in this many rows trains the coarse and sub-quantizers. */
  val TrainEvery = 15
  val Refine = 64
  val Nprobe = 4
  /** Timed jobs per run at the least; jobs repeat past that until the
    * timed phase is over. A job takes 9-13 s on 4 cores, so a 12 s phase
    * alone timed one job or two depending on how fast the host ran. */
  val MinJobs = 2
  /** Set-ups per run. One: with the IVFADC build, a set-up costs about as
    * much as a whole run of the other workload. */
  val Setups = 1
  /** Requests sent before timing, as fast as the senders allow. */
  val WarmUps = 32
  /** Pause between the warm-up and the timed phase, so collection and
    * compilation left over from the warm-up burst do not land on the
    * first timed requests. The process still warms through the timed
    * phase on some runs: over ten runs the first half's median latency
    * was 0-25% above the second's (7-24% without the pause, with 48
    * warm-up requests as with 32), printed as `dense_p50_ms by half`. */
  val SettleMs = 3000L
  /** Requests per second, open loop: well under this host's capacity, so
    * a slower moment on a shared machine does not tip the server into a
    * growing backlog. At 3 per second requests of about 0.5 s overlapped
    * enough that a slower host also queued them, and median latency moved
    * by up to 1.5x between runs. */
  val Rate = 2.0
  /** Share of the timed phase that serves filterless requests with no
    * sync running; filtered requests and the syncs take the rest. */
  val ReadShare = 0.85
  val Syncs = 2
  val NewPerSync = 100
  val ChangedPerSync = 100
  val ProbeEveryMs = 250L
  val ProbeTimeoutMs = 30000L
  // a floor that catches a broken index, not a tuning target: recall at
  // these settings ranged 0.66-0.95 across seeds; a random top-10 scores
  // under 0.01
  val RecallFloor = 0.4

  /** The request's filter, built from the highlight its query was copied
    * from, so that highlight always matches: author; source type and
    * tag; date range; author and date range. */
  def filterFor(h: Highlight, j: Long): Map[String, Any] = {
    def range(days: Int) = Seq(h.highlightedAt.minusDays(days).toString,
      h.highlightedAt.plusDays(days).toString)
    java.lang.Math.floorMod(j / 2, 4L) match {
      case 0 => Map("author" -> h.author)
      case 1 => Map("source_type" -> h.category, "tags" -> Seq(h.tags.head))
      case 2 => Map("highlighted_at_range" -> range(45))
      case _ => Map("author" -> h.author, "highlighted_at_range" -> range(180))
    }
  }

  /** Does a highlight (or a served row's fields) satisfy the filter? The
    * range is [from, to) at day granularity: the gateway bounds it by
    * midnight timestamps and every fixture highlight is stamped at noon. */
  def satisfies(author: String, category: String, tags: Seq[String],
      day: LocalDate, f: Map[String, Any]): Boolean =
    f.get("author").forall(_ == author) &&
      f.get("source_type").forall(_ == category) &&
      f.get("tags").forall(ts => ts.asInstanceOf[Seq[Any]].exists(tags.contains)) &&
      f.get("highlighted_at_range").forall { r =>
        val Seq(from, to) = r.asInstanceOf[Seq[Any]].map(x => LocalDate.parse(x.toString))
        !day.isBefore(from) && day.isBefore(to)
      }

  def rowSatisfies(row: Map[String, Any], f: Map[String, Any]): Boolean =
    satisfies(String.valueOf(row.getOrElse("source_author", null)),
      String.valueOf(row.getOrElse("source_type", null)),
      row.get("tags").map(_.asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Nil),
      LocalDate.parse(row("highlighted_at").toString.take(10)), f)

  /** Sync `i`'s batch: new highlights (the first is the marker the
    * freshness probe looks for) and changed versions of stored ones. */
  def batch(seed: Long, i: Int): Seq[Highlight] = {
    val fresh = (0 until NewPerSync).map(n =>
      Highlights.make(seed, Rows + i.toLong * NewPerSync + n))
    val r = Gen.rng(seed, 9, i)
    val changed = Seq.fill(ChangedPerSync)(r.nextInt(Rows).toLong).distinct
      .map(id => Highlights.make(seed, id, rev = i + 1))
    fresh ++ changed
  }

  /** Request `j`: an edited copy of a stored highlight; even `j` are
    * filterless, odd `j` carry a filter that highlight satisfies. */
  def request(seed: Long, j: Long): (String, Map[String, Any]) = {
    val h = Highlights.make(seed, java.lang.Math.floorMod(Gen.mix(seed * 13 + j), Rows.toLong))
    val q = Gen.edit(h.text, seed, 8, j, 3)
    (q, if (j % 2 == 0) Map.empty else filterFor(h, j))
  }

  def searchRequest(f: Map[String, Any]): graft.search.SearchRequest =
    graft.search.SearchRequest(queryVec = Array.emptyFloatArray, k = K,
      sourceType = f.get("source_type").map(_.toString),
      author = f.get("author").map(_.toString),
      tags = f.get("tags").map(_.asInstanceOf[Seq[Any]].map(_.toString)),
      highlightedAtRange = f.get("highlighted_at_range").map { r =>
        val Seq(a, b) = r.asInstanceOf[Seq[Any]].map(x =>
          java.sql.Timestamp.valueOf(LocalDate.parse(x.toString).atStartOfDay()))
        (a, b)
      })

  /** Mean recall@10 of served results for requests `js` against the exact
    * fp16-cosine scan ([[Knn.topK]]) of the live store. */
  def recall(ctx: Ctx, server: Server, storeDir: String,
      js: Seq[Long]): Double = {
    val rs = js.map { j =>
      val (q, f) = request(ctx.seed, j)
      val truth = Serving.exactTopK(ctx.spark, storeDir, q, K, df =>
        graft.search.SemanticSearch.applyFilters(df, searchRequest(f))).toSet
      val served = Load.post(server.url, Serving.body(q, K, f)).map(Serving.ids)
        .getOrElse(Vector.empty)
      if (truth.isEmpty) 1.0 else served.count(truth).toDouble / truth.size
    }
    rs.sum / rs.size
  }

  def run(ctx: Ctx, processStartNs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val spark = ctx.spark
    val sc = spark.sparkContext
    @volatile var pending = Vector.empty[String]
    val client = Highlights.client(() => pending,
      fetch => Trace.span("sources.fetch")(fetch))
    val ingest = new TracedEmbedder(HashNgramEmbedder(Serving.Dim),
      "embed.ingest")
    var dir = ""
    val server = ctx.setups(Setups, processStartNs) { i =>
      dir = s"${ctx.work}/setup-$i"
      Serving.backfill(spark, dir, (0L until Rows).map(Highlights.make(ctx.seed, _)))
      ctx.log("backfill done")
      Serving.buildIndex(spark, dir, Cells, PqM, PqKsub, TrainEvery)
      ctx.log("index built")
      val s = new Server(spark, s"$dir/store", Some(s"$dir/pq"), Refine, Nprobe)
      ctx.log("server started")
      Serving.warmUp(s, (1 to WarmUps).map { w =>
        val (q, f) = request(ctx.seed, -w)
        Serving.body(q, K, f)
      }, ctx.cores)
      // let the burst's leftover work (collection, compilation) finish
      // before timing starts
      System.gc()
      Thread.sleep(SettleMs)
      s
    }(_.shutdown())
    val storeDir = s"$dir/store"
    val ckptDir = s"$dir/ckpt"

    val filters = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()
    /** `seconds` of requests of one route (0 filterless, 1 filtered) at
      * `Rate`, from `start`. */
    def schedule(seconds: Double, from: Long, route: Int, step: Int,
        start: Long): Vector[Req] =
      (0 until (Rate * seconds).round.toInt).map { i =>
        val j = from + 2 * i + route
        val (q, f) = request(ctx.seed, j)
        val op = s"q$j"
        filters.put(op, f)
        server.inflight.put(q, op)
        Req(op, start + (i * 1e9 / Rate).toLong, Serving.body(q, K, f), step)
      }.toVector
    // the ids each untraced filterless request was served, for recall
    val served = new java.util.concurrent.ConcurrentHashMap[String, Vector[String]]()
    val check: (Req, String) => Option[String] = (r, body) => {
      val rows = Serving.rows(body)
      val f = filters.get(r.op)
      if (f.isEmpty) {
        if (r.step == 0) served.put(r.op, rows.map(_("id").toString))
        if (rows.size == K) None else Some(s"expected $K results, got ${rows.size}")
      } else if (rows.isEmpty) Some("no results")
      else rows.find(!rowSatisfies(_, f)).map(row =>
        s"row ${row("id")} violates filter $f")
    }

    val syncs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Map[String, Any]]())
    /** Sync `i`, with a freshness probe polling for its marker. */
    def syncOnce(i: Int): Unit = {
      val b = batch(ctx.seed, i)
      val marker = b.head
      pending = Highlights.pages(b, 500)
      val op = s"sync$i"
      val start = System.nanoTime()
      var synced: Option[Long] = None
      var error = ""
      val probe = new Thread(() => {
        var n = 0
        var found = -1L
        while (found < 0 && System.nanoTime() - start < ProbeTimeoutMs * 1000000L) {
          n += 1
          server.inflight.put(marker.text, s"probe$i-$n")
          Load.post(server.url, Serving.body(marker.text, K,
              Map("author" -> marker.author)))
            .toOption.filter(Serving.ids(_).contains(marker.id.toString))
            .foreach(_ => found = System.nanoTime())
          if (found < 0) Thread.sleep(ProbeEveryMs)
        }
        if (found >= 0) syncs.add(Map("op" -> op, "fresh_ms" -> (found - start) / 1e6))
        else ctx.log(s"op $op failed: marker ${marker.id} not found in $ProbeTimeoutMs ms")
      })
      probe.start()
      try synced = Trace.withOp(sc, op) {
        Trace.span("sync.incremental") {
          Sync.incremental(spark, client, storeDir, ckptDir, embedder = ingest,
            fp16 = true)
        }
      } catch { case e: Exception =>
        error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        ctx.log(s"op $op failed: $error")
      }
      val end = System.nanoTime()
      probe.join()
      syncs.add(Map("op" -> op, "start_ms" -> ctx.ms(start),
        "end_ms" -> ctx.ms(end), "rows" -> synced.getOrElse(0L),
        "ok" -> (synced.contains(b.size.toLong) && error.isEmpty)))
    }

    /** Step `step`: filterless requests for `ReadShare` of `seconds`; step
      * `step + 1`: filtered requests for the rest while `Syncs` syncs run
      * back to back. */
    def phases(seconds: Double, from: Long, step: Int,
        firstSync: Int): Vector[Outcome] = {
      def at(s: Double) = System.nanoTime() + (s * 1e9).toLong
      val reads = Load.run(server.url,
        schedule(ReadShare * seconds, from, 0, step, at(0.2)), ctx.cores, check)
      val writer = new Thread(() =>
        (firstSync until firstSync + Syncs).foreach(syncOnce), "perfbench-sync")
      val mixed = schedule((1 - ReadShare) * seconds, from, 1, step + 1, at(0.2))
      writer.start()
      val out = Load.run(server.url, mixed, ctx.cores, check)
      writer.join()
      reads ++ out
    }

    val outcomes =
      if (!ctx.trace) phases(ctx.seconds, 0, 0, 0)
      else {
        // the same steps twice: untraced, then traced (the overhead pair)
        val a = phases(ctx.seconds, 0, 0, 0)
        val b = ctx.traced(phases(ctx.seconds, 100000, 2, Syncs))
        a ++ b
      }
    ctx.recordLiveHeap()

    // recall of the filterless (IVFADC) path over the requests it served
    // before any sync changed the store the index was built from, against
    // the exact cosine top-k of the stored fp16 vectors, computed here
    val denseRecall = Serving.recallAgainstExact(
      (0L until Rows).map(Highlights.make(ctx.seed, _)),
      served.asScala.toVector.map { case (op, ids) =>
        request(ctx.seed, op.stripPrefix("q").toLong)._1 -> ids }, K)
    ctx.out("quality") = denseRecall
    ctx.check("recall_at_10_floor", denseRecall >= RecallFloor,
      f"recall $denseRecall%.3f over ${served.size} requests")
    ctx.out("requests") = outcomes.map(o => ctx.requestRecord(o,
      o.req.step >= 2, if (o.req.step % 2 == 0) "dense" else "scan"))
    // one record per sync: its timing merged with its probe's finding
    val merged = syncs.asScala.toVector.groupBy(_("op")).values.map(_.reduce(_ ++ _))
      .toVector.sortBy(_("op").toString)
    ctx.out("syncs") = merged
    val syncCount = if (ctx.trace) 2 * Syncs else Syncs
    ctx.check("all_requests_ok", outcomes.forall(_.ok),
      s"${outcomes.count(!_.ok)} failed")
    ctx.check("every_sync_ok", merged.size == syncCount &&
      merged.forall(_.getOrElse("ok", false) == true))
    ctx.check("every_marker_found", merged.size == syncCount &&
      merged.forall(_.contains("fresh_ms")))

    // rows each traced filtered request matched in the store it scanned:
    // the backfill plus the new highlights of every sync done before it
    if (ctx.trace) {
      val hs = (0L until Rows).map(Highlights.make(ctx.seed, _))
      val added = (0 until 2 * Syncs).map(i => batch(ctx.seed, i).take(NewPerSync))
      val syncEnds = merged.map(m => m("end_ms").asInstanceOf[Double]).sorted
      ctx.out("matched_rows") = outcomes
        .filter(o => o.req.step == 3).map { o =>
          val f = filters.get(o.req.op)
          val visible = hs ++ added.take(syncEnds.count(_ < ctx.ms(o.startNs))).flatten
          o.req.op -> visible.count(h =>
            satisfies(h.author, h.category, h.tags, h.highlightedAt, f))
        }.toMap
    }

    // the filtered scan is exact: its recall against the exact scan of the
    // synced store is a correctness check
    val scanRecall = recall(ctx, server, storeDir,
      (0 until 3).map(2000001L + 2 * _))
    ctx.check("filtered_recall_exact", scanRecall >= 0.999, f"recall $scanRecall%.3f")
    ctx.log("recall measured")
    server.shutdown()
  }
}

object CurateBatch {
  val Originals = 600
  /** Originals of the warm-up job's corpus, run once before timing so the
    * timed job is not the process's first. */
  val WarmUpOriginals = 150
  /** Timed jobs per run at the least; jobs repeat past that until the
    * timed phase is over. A job takes 9-13 s on 4 cores, so a 12 s phase
    * alone timed one job or two depending on how fast the host ran. */
  val MinJobs = 2
  /** Set-ups per run (corpus generation and write); `setup_s` is their
    * median, so one slow write does not move it. */
  val Setups = 7
  val BenchTexts = 60
  val Contaminated = 30
  val Dim = 384
  /** Words per generated document. Over seeds 1-300, 1,200 32-word originals
    * were never closer than cosine distance 0.24 to each other or 0.33 to
    * a benchmark text, and two-word edits never further than 0.11 from
    * their source; at 24 words the ranges came within 0.1 of each other. */
  val Words = 32
  val Cells = 16
  /** Near-duplicate and contamination threshold: between the two ranges
    * above, with room on both sides. */
  val MaxDistance = 0.18
  val DedupRecallFloor = 0.85

  final case class Corpus(docs: Seq[(Long, String, String)], exact: Set[Long],
      near: Set[Long], contaminated: Set[Long], bench: Seq[(Long, String)])

  /** `originals` documents, then planted exact copies (5%), near copies
    * (10%, two words replaced) and near copies of benchmark texts, each
    * group with ids above every original so the original is always the
    * keeper. */
  def corpus(seed: Long, originals: Int): Corpus = {
    def marked(t: String, id: Long) =
      if (Gen.rng(seed, 20, id).nextInt(10) < 8) s"the $t a" else s"data $t row"
    val orig = (0L until originals).map { id =>
      (id, marked(Gen.text(seed, id, (id % Gen.Topics).toInt, Words), id))
    }
    val r = Gen.rng(seed, 21, 0)
    def pick() = orig(r.nextInt(originals))
    var next = originals.toLong
    def fresh() = { next += 1; next - 1 }
    val exact = Seq.fill(originals / 20)((fresh(), pick()._2))
    val near = Seq.fill(originals / 10) {
      val id = fresh(); (id, Gen.edit(pick()._2, seed, 22, id, 2))
    }
    val bench = (0L until BenchTexts).map { b =>
      (b, marked(Gen.text(seed ^ 0x5eedL, 1000000L + b, (b % Gen.Topics).toInt,
          Words),
        1000000L + b))
    }
    val contaminated = bench.take(Contaminated).map { case (_, t) =>
      val id = fresh(); (id, Gen.edit(t, seed, 23, id, 2))
    }
    val sources = Vector("web", "books", "code")
    val docs = (orig ++ exact ++ near ++ contaminated).map { case (id, t) =>
      (id, t, sources((id % 3).toInt)) }
    Corpus(docs, exact.map(_._1).toSet, near.map(_._1).toSet,
      contaminated.map(_._1).toSet, bench)
  }

  def run(ctx: Ctx, processStartNs: Long): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    import spark.implicits._
    val embedder = HashNgramEmbedder(Dim)
    def write(c: Corpus, path: String): String = {
      c.docs.toDF("doc_id", "text", "source").repartition(ctx.cores)
        .write.mode("overwrite").parquet(path)
      path
    }

    def step[T](job: Int, layer: String)(f: => T): T =
      Trace.withOp(sc, s"job$job.$layer")(Trace.span(layer)(f))

    /** One curation job over `c` stored at `path`; returns its wall ms.
      * With `record`, its outputs are checked against what was planted. */
    def job(j: Int, c: Corpus, path: String, record: Boolean): Double = {
      val t0 = System.nanoTime()
      val docs = spark.read.parquet(path)
      val exact = step(j, "dedup.exact") {
        val d = Dedup.dropExactDuplicates(docs, "text", "doc_id").persist()
        d.count(); d
      }
      val embedded = step(j, "embed.batch") {
        val d = Embedder.embedBatched(exact, "text", "embedding", embedder).persist()
        d.count(); d
      }
      val kept = step(j, "dedup.semdedup") {
        Dedup.semDeDup(embedded, "embedding", "doc_id", MaxDistance, Cells,
            nprobe = 2)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      }
      val bench = c.bench.toDF("bench_id", "text")
      val flagged = step(j, "similarity.ivfjoin") {
        Knn.ivfKnnJoin(Embedder.embedBatched(bench, "text", "embedding", embedder),
            embedded, "embedding", "bench_id", "embedding", "doc_id", k = 2,
            cells = Cells, nprobe = 4)
          .filter(col("score") < MaxDistance)
          .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
      }
      val report = step(j, "text.cascade") {
        val clean = embedded.drop("embedding")
          .filter(col("doc_id").isin(kept.toSeq: _*) &&
            !col("doc_id").isin(flagged.toSeq: _*))
        val lm = TextAnalysis.ngramLmScore(clean, "text", "doc_id",
            trainFilter = col("doc_id") % 10 < 8)
          .select(col("doc_id"), col("avg_logprob"))
        CorpusPrep.curationCascade(clean, "text", "doc_id", "source", lm)._2
          .collect()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val afterExact = exact.select(col("doc_id")).as[Long].collect().toSet
      exact.unpersist(); embedded.unpersist()
      if (record) checkJob(c, afterExact, kept, flagged, report.map(_.getLong(2)).sum)
      ms
    }

    def checkJob(c: Corpus, afterExact: Set[Long], kept: Set[Long],
        flagged: Set[Long], reported: Long): Unit = {
      val originals = c.docs.map(_._1).filter(_ < Originals).toSet
      val removedNear = c.near.count(!kept.contains(_))
      ctx.out("quality") = removedNear.toDouble / c.near.size
      ctx.check("exact_duplicates_removed", c.exact.forall(!afterExact.contains(_)) &&
        originals.forall(afterExact.contains))
      ctx.check("no_original_removed", originals.forall(kept.contains),
        s"${originals.count(!kept.contains(_))} originals removed")
      ctx.check("dedup_recall_floor",
        removedNear >= DedupRecallFloor * c.near.size,
        s"$removedNear of ${c.near.size} near-duplicates removed")
      ctx.check("contamination_flagged", c.contaminated.subsetOf(flagged) &&
        flagged.subsetOf(c.contaminated),
        s"flagged ${flagged.size}, planted ${c.contaminated.size}, " +
          s"missed ${(c.contaminated -- flagged).size}")
      ctx.check("cascade_reported", reported == kept.size - flagged.size)
    }

    var c: Corpus = null
    val docsPath = ctx.setups(Setups, processStartNs) { i =>
      if (i == 0) {
        val w = corpus(ctx.seed, WarmUpOriginals)
        job(-1, w, write(w, s"${ctx.work}/warm-up.parquet"), record = false)
        ctx.log("warm-up job done")
      }
      c = corpus(ctx.seed, Originals)
      write(c, s"${ctx.work}/setup-$i/docs.parquet")
    }(_ => ())

    /** At least `minJobs` jobs, repeated until `seconds` have passed. */
    def jobs(seconds: Double, minJobs: Int, from: Int,
        traced: Boolean): Vector[Map[String, Any]] = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val out = Vector.newBuilder[Map[String, Any]]
      var j = from
      do {
        val (ms, ok) = try (job(j, c, docsPath, record = true), true) catch { case e: Exception =>
          ctx.log(s"op job$j failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          (0.0, false)
        }
        out += Map("op" -> s"job$j", "ms" -> ms, "docs" -> c.docs.size,
          "ok" -> ok, "traced" -> traced)
        j += 1
      } while (j - from < minJobs || System.nanoTime() < end)
      out.result()
    }

    val runs =
      if (!ctx.trace) jobs(ctx.seconds, MinJobs, 0, traced = false)
      else {
        val a = jobs(ctx.seconds / 2, 1, 0, traced = false)
        val b = ctx.traced(jobs(ctx.seconds / 2, 1, 1000, traced = true))
        a ++ b
      }
    ctx.recordLiveHeap()
    ctx.out("jobs") = runs
    ctx.check("all_jobs_ok", runs.forall(_("ok") == true))
  }
}
