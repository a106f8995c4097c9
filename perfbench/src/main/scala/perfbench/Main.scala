package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its raw records as JSON:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --out FILE
  *
  * The session is sized to the host: `local[<cores>]` with as many shuffle
  * partitions as cores. Every fixture is built under DIR by the code under
  * test. */
object Main {
  def session(work: String, cores: Int, trace: Boolean): SparkSession = {
    val b = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    val spark = (if (trace) b.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
      else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.init(spark)
  }

  def main(args: Array[String]): Unit = {
    val processStartNs = System.nanoTime() -
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) *
        1000000L
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val trace = opts("trace") == "1"
    val spark = session(work, cores, trace)
    val ctx = new Ctx(spark, work, opts("seed").toLong,
      opts("seconds").toDouble, trace, processStartNs)
    val sparkTrace = if (ctx.trace) {
      val t = new SparkTrace(spark); t.register(); Some(t)
    } else None
    opts("workload") match {
      case "serve_sync" => ServeSync.run(ctx, processStartNs)
      case "curate_batch" => CurateBatch.run(ctx, processStartNs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    sparkTrace.foreach { t =>
      val (ops, files) = t.snapshot()
      t.unregister()
      ctx.out("spark_ops") = ops
      ctx.out("spark_files") = files
      ctx.out("spans") = Trace.drain().map(s => Map("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> ctx.ms(s.startNs), "end_ms" -> ctx.ms(s.endNs),
        "n" -> s.n, "site" -> s.site))
    }
    ctx.out("checks") = ctx.checks.toMap
    ctx.out("cores") = cores
    ctx.out("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    val json = graft.serve.Json.write(ctx.out)
    Files.write(Paths.get(opts("out")), json.getBytes(StandardCharsets.UTF_8))
    ctx.log("result written")
    spark.stop()
    ctx.log("session stopped")
    // the JDK HTTP server's handler pool is non-daemon and lingers a minute
    // after its last request; the run is over, so end the process now
    System.exit(0)
  }
}

/** Read operations (status probes, listings, opens) against the local
  * Hadoop FileSystem. Hadoop's own statistics count none for `file:`, so
  * traced runs install [[CountingLocalFileSystem]], which counts them as
  * callers make them. */
object FsStats {
  val ops = new java.util.concurrent.atomic.AtomicLong(0)
  def readOps(): Long = ops.get()
}

/** The local FileSystem with every read operation counted. */
final class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}
  override def getFileStatus(p: Path): FileStatus = {
    FsStats.ops.incrementAndGet(); super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    FsStats.ops.incrementAndGet(); super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    FsStats.ops.incrementAndGet(); super.open(p, bufferSize)
  }
}
