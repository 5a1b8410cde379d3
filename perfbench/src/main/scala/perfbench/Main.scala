package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** One benchmark run of one workload in a fresh JVM (driven by run.py).
  *
  * Sets up three times (session + warm-up + the workload's own staging,
  * each timed; the last one is kept), runs the workload for `--seconds`, and
  * writes the raw record (samples, counts, checks, trace) as JSON to `--out`.
  * Percentiles and the final metrics are computed by run.py.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR --out FILE --cores N
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: String, out: String, cores: Int)

  /** Set-ups per run; `setup_s` is their median. */
  private val setups = 3

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("out"),
      need("cores").toInt)
  }

  /** Session settings copied verbatim from `graft.Bench` (master and
    * shuffle partitions follow `cores`), plus scratch dirs inside `work`. */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "16384",
    "spark.ui.enabled" -> "false",
  )

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    conf(cores).foreach { case (k, v) => b.config(k, v) }
    b.config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The warm-up `graft.Bench` runs before timing: a data-free batch job
    * and two tiny stateful streaming queries on the RocksDB provider. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    val ms = MemoryStream[Long]
    ms.addData(0L until 64L)
    ms.toDF().groupBy((col("value") % 8).as("k")).count()
      .writeStream.format("memory").queryName("perfbench_warmup1")
      .option("checkpointLocation", graft.Tmp.ckpt("warmup1"))
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    val ms2 = MemoryStream[Long]
    ms2.addData(0L until 64L)
    ms2.toDS().groupByKey(_ % 8)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (k: Long, it: Iterator[Long], st: GroupState[Long]) => {
          st.update(it.size.toLong); Iterator.single(k)
        })
      .writeStream.format("memory").queryName("perfbench_warmup2")
      .option("checkpointLocation", graft.Tmp.ckpt("warmup2"))
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    spark.sql("DROP TABLE IF EXISTS perfbench_warmup1")
    spark.sql("DROP TABLE IF EXISTS perfbench_warmup2")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(f =>
        try Files.size(f) catch { case _: java.io.IOException => 0L }).sum()
      finally w.close()
    }

  /** Bytes in the `Tmp.ckpt` dirs (graft_*_ckpt*) under the checkpoint root
    * run.py sets with `-Dgraft.ckpt.root`. */
  def ckptBytes(): Long = {
    val ls = Files.list(Paths.get(sys.props("graft.ckpt.root")))
    try ls.filter(d => d.getFileName.toString.matches("graft_.*_ckpt.*"))
      .mapToLong(d => dirBytes(d)).sum()
    finally ls.close()
  }

  /** Sum over the heap's memory pools of each pool's peak use, in MB. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
  }

  /** Collection time of all the JVM's garbage collectors so far, in ms. */
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Time the JIT compilers have spent so far, in ms. */
  def jitMs(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder
    val workload: Workload = a.workload match {
      case "serve_chain"  => new ServeChain(a.seed, a.data)
      case "query_mix"    => new QueryMix(a.seed, a.data)
      case "table_dml"    => new TableDml(a.seed, a.data)
      case w => sys.error(s"unknown workload $w")
    }
    Files.createDirectories(Paths.get(a.work))
    var spark: SparkSession = null
    for (i <- 1 to setups) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession() }
      val t0 = System.nanoTime()
      spark = session(a.cores, a.work)
      warmUp(spark)
      workload.setup(spark, s"${a.work}/setup-$i", rec)
      rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    val tracer = new Tracer(spark, a.trace)
    val ckpt0 = ckptBytes()
    val (gc0, jit0) = (gcMs(), jitMs())
    val completed = try {
      tracer.span("run", "harness") { workload.run(spark, a.seconds, rec, tracer) }
      true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        false
    }
    rec.scalar("tmp.ckpt_bytes", (ckptBytes() - ckpt0).toDouble)
    rec.scalar("jvm.gc_ms", gcMs() - gc0)
    rec.scalar("jvm.jit_ms", jitMs() - jit0)
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    tracer.close()
    val sparkVersion = spark.version
    if (a.trace && completed) workload.traceExtra(spark, a, rec)
    spark.stop()
    rec.scalar("rss_peak_mb", rssPeakMb())
    rec.scalar("jvm.heap_peak_mb", heapPeakMb())
    val prov = Json.obj(
      "seed" -> Json.num(a.seed), "cores" -> Json.num(a.cores),
      "master" -> Json.str(s"local[${a.cores}]"),
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"),
      "spark" -> Json.str(sparkVersion), "fixture_dir" -> Json.str(a.data),
      "setups" -> Json.num(setups.toLong), "seconds" -> Json.num(a.seconds),
      "spark_conf" -> Json.obj(conf(a.cores).map { case (k, v) => k -> Json.str(v) }: _*),
      "oracle_sql" -> Json.obj(workload.oracleSql.map { case (k, v) => k -> Json.str(v) }: _*))
    val out = Json.obj("workload" -> Json.str(a.workload), "provenance" -> prov,
      "record" -> rec.json, "trace" -> tracer.json)
    Files.writeString(Paths.get(a.out), out)
    // Spark and RocksDB leave non-daemon threads behind; the record is out
    sys.exit(0)
  }
}

/** A workload: `setup` stages its inputs (timed into setup_s), `run`
  * measures about `seconds` of work and checks the program's outputs as it
  * goes. */
trait Workload {
  def setup(spark: SparkSession, dir: String, rec: Recorder): Unit
  def run(spark: SparkSession, seconds: Int, rec: Recorder, tr: Tracer): Unit
  /** Extra traced-only measurements, after the measured window; may stop
    * `spark`. */
  def traceExtra(spark: SparkSession, a: Main.Args, rec: Recorder): Unit = ()
  /** DuckDB SQL of each key whose row count run.py checks. */
  def oracleSql: Seq[(String, String)] = Seq.empty
}

/** Raw measurements of one run: sample lists, scalars, and the output
  * check tally (attempted operations and the failures among them). */
final class Recorder {
  import scala.collection.mutable
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val scalars = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attemptedN = 0L
  private var failedN = 0L
  private var invalid = Option.empty[String]

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def scalar(name: String, v: Double): Unit = synchronized { scalars(name) = v }
  def attempted(n: Long): Unit = synchronized { attemptedN += n }
  /** `n` attempted operations failed; keep the first few reasons. */
  def fail(reason: String, n: Long = 1L): Unit = synchronized {
    failedN += n
    if (failures.size < 20) failures += reason
    System.err.println(s"[perfbench] FAIL: $reason")
  }
  def markInvalid(reason: String): Unit = synchronized {
    if (invalid.isEmpty) invalid = Some(reason)
    System.err.println(s"[perfbench] INVALID: $reason")
  }

  def json: String = synchronized {
    Json.obj(
      "attempted" -> Json.num(attemptedN), "failed" -> Json.num(failedN),
      "failures" -> Json.arr(failures.map(Json.str).toSeq),
      "invalid" -> invalid.map(Json.str).getOrElse("null"),
      "samples" -> Json.obj(samples.toSeq.map { case (k, v) => k -> Json.nums(v.toSeq) }: _*),
      "scalars" -> Json.obj(scalars.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def nums(vs: Seq[Double]): String = vs.map(num).mkString("[", ",", "]")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
