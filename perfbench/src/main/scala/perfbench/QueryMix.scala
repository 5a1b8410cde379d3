package perfbench

import org.apache.spark.sql.SparkSession

/** query_mix: closed loop, one client, the `graft.Bench` protocol. Each
  * pass runs `SparkEntry.queries(k)(spark, data).count()` with nothing
  * cached over the 12 `Bench.baseline12` keys, in a seeded order per pass.
  * The first `warmPasses` passes warm the JIT (checked, not timed into the
  * metrics); then one timed pass per `passSeconds` of `seconds`. The count
  * is fixed, not time-bound: passes still speed up through the run, so in
  * a slow period of the host a time-bound loop would also drop the later,
  * faster passes and move the medians further. Row counts are recorded per
  * run and checked against DuckDB by run.py. */
final class QueryMix(seed: Long, data: String) extends Workload {
  private val warmPasses = 3
  private val passSeconds = 2

  override def setup(spark: SparkSession, dir: String, rec: Recorder): Unit = ()

  override def oracleSql: Seq[(String, String)] =
    graft.Bench.baseline12.map(k => k -> graft.SparkEntry.oracleSql(k))

  override def run(spark: SparkSession, seconds: Int, rec: Recorder, tr: Tracer): Unit = {
    val rnd = new scala.util.Random(seed)
    // warm-up passes are checked but not timed into the metrics
    val passes = warmPasses + math.max(1, seconds / passSeconds)
    for (pass <- 0 until passes) {
      val p = if (pass < warmPasses) "warm." else ""
      var total = 0.0
      tr.span("mix.pass", "harness") {
        for (k <- rnd.shuffle(graft.Bench.baseline12)) {
          rec.attempted(1)
          val t0 = System.nanoTime()
          try {
            val df = tr.span("entry.build", "entry") { graft.SparkEntry.queries(k)(spark, data) }
            val t1 = System.nanoTime()
            val n = tr.span("entry.count", "entry") { df.count() }
            val t2 = System.nanoTime()
            rec.sample(s"${p}entry.build_ms", (t1 - t0) / 1e6)
            rec.sample(s"${p}entry.count_ms", (t2 - t1) / 1e6)
            rec.sample(s"rows.$k", n.toDouble)
          } catch {
            case e: Exception => rec.fail(s"query_mix $k: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          }
          val ms = (System.nanoTime() - t0) / 1e6
          rec.sample(s"${p}key_ms", ms)
          rec.sample(s"${p}key_ms.$k", ms)
          total += ms
        }
      }
      rec.sample(s"${p}mix_pass_s", total / 1000.0)
    }
  }
}
