package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, crc32}

import graft.embed.{Embedder, HashNgramEmbedder}
import graft.serve.{HttpApi, Json, SearchGateway, SearchParams}
import graft.similarity.Knn
import graft.sync.{HighlightStore, Sync}

/** An embedder that records a span per call. Spark ships it into ingest
  * tasks; in local mode those run in this JVM, so their spans land in the
  * same recorder. */
final class TracedEmbedder(inner: Embedder, name: String) extends Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] = Trace.span(name, 1L)(inner.embed(text))
}

/** The `Cli serve` composition, assembled from the same public calls:
  * backfilled store → optional IVFADC+refine index → reloading handles →
  * [[SearchGateway]] → [[HttpApi]]. Each handle is wrapped so the traced
  * run sees the time spent in it. */
final class Server(spark: SparkSession, storeDir: String,
    pqIndexDir: Option[String], refine: Int, nprobe: Int) {
  private val sc = spark.sparkContext

  /** Query text → op id of the request in flight, so server-side spans
    * and Spark jobs join the client's op. */
  val inflight = new ConcurrentHashMap[String, String]()

  private val storeHandle = HighlightStore.reloadingWarm(spark, storeDir)
  private val dense: Option[() => Knn.DenseIndex] = pqIndexDir.map { d =>
    require(Knn.ivfPqIndexReady(d), s"no IVFADC index at $d")
    val h = Knn.IvfPqIndex.reloading(spark, d)
    () => {
      val idx = h.get.asDense(refine)
      new Knn.DenseIndex {
        def attrColumns: Seq[String] = idx.attrColumns
        def servingTopK(q: Array[Float], k: Int, np: Int,
            filter: Option[Column]): Array[Row] =
          Trace.span("similarity.topk")(idx.servingTopK(q, k, np, filter))
        override def servingTopKRouted(q: Array[Float], k: Int, np: Int,
            filter: Column): Array[Row] =
          Trace.span("similarity.topk")(idx.servingTopKRouted(q, k, np, filter))
      }
    }
  }
  private val gateway = new SearchGateway(
    () => Trace.span("sync.store_get")(storeHandle.get.serving),
    new TracedEmbedder(HashNgramEmbedder(Serving.Dim), "embed.query"), dense,
    nprobe)

  private val http = new HttpApi(search, port = 0).start()
  val url = s"http://127.0.0.1:${http.boundPort}/search"

  private def search(p: SearchParams): Iterator[Map[String, Any]] = {
    val op = Option(inflight.remove(p.query)).getOrElse("untracked")
    Trace.withOp(sc, op) {
      Trace.span("serve.search_fn")(gateway.search(p).toVector).iterator
    }
  }

  def shutdown(): Unit = {
    http.shutdown()
    storeHandle.get.atRest.unpersist()
  }
}

object Serving {
  val Dim = 3072

  def body(q: String, k: Int, filters: Map[String, Any] = Map.empty): String =
    Json.write(Map("q" -> q, "k" -> k) ++ filters)

  /** The result rows of a `/search` response body, in rank order. */
  def rows(body: String): Vector[Map[String, Any]] =
    Json.parseObject(body)("results").asInstanceOf[Seq[Map[String, Any]]]
      .toVector

  def ids(body: String): Vector[String] = rows(body).map(_("id").toString)

  /** Warm-up: send `bodies` as fast as `threads` senders allow. */
  def warmUp(s: Server, bodies: Seq[String], threads: Int): Unit = {
    val now = System.nanoTime()
    Load.run(s.url, bodies.map(Req("warm-up", now, _, -1)).toIndexedSeq, threads,
      (_, _) => None)
    ()
  }

  /** `Sync.backfill` of `hs` into an fp16 store under `dir`. */
  def backfill(spark: SparkSession, dir: String, hs: Seq[Highlight]): Long = {
    val pages = Highlights.pages(hs, 500)
    Sync.backfill(spark, Highlights.client(() => pages), s"$dir/store",
      s"$dir/ckpt", embedder = new TracedEmbedder(HashNgramEmbedder(Dim),
        "embed.ingest"), fp16 = true)
  }

  /** The serving IVFADC layout `Cli index --type ivfpq` builds. */
  def buildIndex(spark: SparkSession, dir: String, cells: Int, m: Int,
      ksub: Int, trainEvery: Int): Unit = {
    val store = HighlightStore.read(spark, s"$dir/store").get
    Knn.ivfPqBuildIndex(store, "embedding", "id", s"$dir/pq", cells = cells,
      m = m, ksub = ksub, iters = 2,
      trainFilter = crc32(col("id")) % trainEvery === 0,
      pqTrainFilter = crc32(col("id")) % trainEvery === 0, refine = true)
  }

  /** Mean recall@k of `served` (query text → served ids) against the exact
    * cosine top-k of `hs` as an fp16 store holds them: each text embedded,
    * rounded through fp16 and scored in the driver, ties broken by id. */
  def recallAgainstExact(hs: Seq[Highlight], served: Seq[(String, Vector[String])],
      k: Int): Double = {
    val embedder = HashNgramEmbedder(Dim)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val store = hs.map(h => h.id.toString ->
      unit(graft.functions.Fp16.decode(graft.functions.Fp16.encode(embedder.embed(h.text)))))
    val rs = served.map { case (q, ids) =>
      val qv = unit(embedder.embed(q))
      val truth = store.map { case (id, v) =>
        var dot = 0.0; var i = 0
        while (i < v.length) { dot += v(i) * qv(i); i += 1 }
        (-dot, id)
      }.sorted.take(k).map(_._2).toSet
      ids.count(truth).toDouble / truth.size
    }
    rs.sum / rs.size
  }

  /** Exact fp16-cosine top-k ids over the live store ([[Knn.topK]]),
    * optionally filtered — the ground truth for recall. */
  def exactTopK(spark: SparkSession, storeDir: String, q: String, k: Int,
      filter: DataFrame => DataFrame = identity): Vector[String] = {
    val store = filter(HighlightStore.read(spark, storeDir).get)
    Knn.topK(store, "embedding", HashNgramEmbedder(Dim).embed(q), k, "id")
      .select(col("id")).collect().map(_.getString(0)).toVector
  }
}
