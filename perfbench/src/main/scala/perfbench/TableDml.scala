package perfbench

import graft.ops.Acid
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, round, sum}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** table_dml: closed loop, one client, writes beside reads on one Acid
  * table. Setup seeds it with one `appendTxn` of the fixture's `orders`;
  * the run cycles small `appendTxn`, `mergeCow` upserts and `deleteTxn`
  * calls (each once per cycle, in a seeded order), reads after each write,
  * in turn, the latest version or a random earlier one, and runs `optimize`
  * every `optimizeEvery` commits. The first `warmCycles` cycles warm the
  * JIT; then one timed cycle per `cycleSeconds` of `seconds`. The count is
  * fixed, not time-bound: merges still speed up through the run, so in a
  * slow period of the host a time-bound loop would also drop the later,
  * faster merges and move their median further.
  *
  * An in-benchmark model tracks the live keys and prices; every read is
  * checked against the model's (rows, sum of keys, sum of price cents) for
  * that version. Fresh keys never reuse a deleted key, and updates only
  * touch live keys, so the expected state is unambiguous. */
final class TableDml(seed: Long, data: String) extends Workload {
  import TableDml.Snap
  private val optimizeEvery = 8
  private val warmCycles = 2
  private val cycleSeconds = 2
  private val appendRows = 500
  private val mergeUpdates = 200
  private val mergeInserts = 100
  private val deleteRows = 200
  private var table: String = _

  override def setup(spark: SparkSession, dir: String, rec: Recorder): Unit = {
    table = s"$dir/orders_acid"
    Acid.appendTxn(spark, table, graft.Tables.orders(spark, data), 1L)
  }

  override def run(spark: SparkSession, seconds: Int, rec: Recorder, tr: Tracer): Unit = {
    val rnd = new scala.util.Random(seed)
    // model: live keys (swap-remove array + index) and their price in cents
    val keys = mutable.ArrayBuffer.empty[Long]
    val idx = mutable.LongMap.empty[Int]
    val price = mutable.LongMap.empty[Long]
    graft.Tables.orders(spark, data).select("o_orderkey", "o_totalprice").collect()
      .foreach { r =>
        val k = r.getLong(0)
        idx(k) = keys.size; keys += k; price(k) = math.round(r.getDouble(1) * 100)
      }
    var nextKey = keys.max + 1
    var keySum = keys.sum
    var cents = price.values.sum
    def removeKey(k: Long): Unit = {
      val i = idx(k); val last = keys.last
      keys(i) = last; idx(last) = i; keys.remove(keys.size - 1); idx.remove(k)
      keySum -= k; cents -= price(k); price.remove(k)
    }
    def setPrice(k: Long, c: Long): Unit = {
      if (!price.contains(k)) { idx(k) = keys.size; keys += k; keySum += k }
      else cents -= price(k)
      price(k) = c; cents += c
    }
    def pick(n: Int): Seq[Long] = {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < n) s += keys(rnd.nextInt(keys.size))
      s.toSeq
    }
    val snaps = mutable.LinkedHashMap(Acid.currentVersion(table).get ->
      Snap(keys.size.toLong, keySum, cents))

    val schema = graft.Schemas.orders
    val date = java.sql.Timestamp.valueOf("2001-08-01 00:00:00")
    def row(k: Long, c: Long): Row = Row(k, (rnd.nextInt(15000)).toLong, "O", c / 100.0,
      date, "3-MEDIUM")
    def frame(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def newCents(): Long = 90000L + rnd.nextInt(50000000)

    def readCheck(v: Long, latest: Boolean, p: String): Unit = {
      rec.attempted(1)
      val name = if (latest) "read" else "read_version"
      val t0 = System.nanoTime()
      val got = tr.span(s"acid.$name", "acid") {
        val df = if (latest) Acid.read(spark, table) else Acid.readVersion(spark, table, v)
        df.agg(count(lit(1)), sum(col("o_orderkey")),
          sum(round(col("o_totalprice") * 100).cast("long"))).head()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      rec.sample(s"${p}read_ms", ms); rec.sample(s"${p}acid.${name}_ms", ms)
      val s = snaps(v)
      if (got.getLong(0) != s.rows || got.getLong(1) != s.keySum || got.getLong(2) != s.cents)
        rec.fail(s"table_dml: $name of version $v read (${got.getLong(0)}, ${got.getLong(1)}, " +
          s"${got.getLong(2)}), the model has (${s.rows}, ${s.keySum}, ${s.cents})")
    }

    val tableBytes = () => Main.dirBytes(Paths.get(table))
    var txn = 100L
    var commits = 0
    // `p` prefixes the samples: "warm." for the warm-up cycles, which are
    // checked but not timed into the metrics
    def write(op: String, p: String): Unit = {
      txn += 1
      // the change frame and the model update it implies
      val (input, apply): (Option[DataFrame], () => Unit) = op match {
        case "append" =>
          val ks = (0 until appendRows).map(i => (nextKey + i, newCents()))
          nextKey += appendRows
          (Some(frame(ks.map { case (k, c) => row(k, c) })), () => ks.foreach { case (k, c) => setPrice(k, c) })
        case "merge" =>
          val ks = pick(mergeUpdates).map(k => (k, newCents())) ++
            (0 until mergeInserts).map(i => (nextKey + i, newCents()))
          nextKey += mergeInserts
          (Some(frame(ks.map { case (k, c) => row(k, c) })), () => ks.foreach { case (k, c) => setPrice(k, c) })
        case "delete" =>
          val ks = pick(deleteRows)
          (Some(frame(ks.map(k => row(k, 0L))).select("o_orderkey")), () => ks.foreach(removeKey))
        case _ => (None, () => ())
      }
      val before = if (tr.enabled) tableBytes() else 0L
      rec.attempted(1)
      val t0 = System.nanoTime()
      val v = try {
        Some(tr.span(s"acid.$op", "acid") {
          op match {
            case "append" => Acid.appendTxn(spark, table, input.get, txn)
            case "merge" => Acid.mergeCow(spark, table, input.get, "o_orderkey", txn)._1
            case "delete" => Acid.deleteTxn(spark, table, input.get, "o_orderkey", txn)
            case _ => Acid.optimize(spark, table, txn, targetFiles = 4)
          }
        })
      } catch {
        case e: Exception =>
          rec.fail(s"table_dml $op: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          None
      }
      val ms = (System.nanoTime() - t0) / 1e6
      rec.sample(s"${p}write_ms", ms); rec.sample(s"${p}acid.${op}_ms", ms)
      commits += 1
      v.foreach { version =>
        apply()
        snaps(version) = Snap(keys.size.toLong, keySum, cents)
        if (tr.enabled) {
          if (op != "optimize") {
            rec.sample("acid.bytes_added", (tableBytes() - before).toDouble)
            rec.sample("acid.input_bytes",
              input.get.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble)
          }
          val files = manifestFiles(version)
          val prev = snaps.keys.filter(_ < version).maxOption.map(manifestFiles).getOrElse(Set.empty)
          rec.sample("acid.files_per_commit", (files -- prev).size.toDouble)
        }
        val earlier = snaps.keys.filter(_ < version).toIndexedSeq
        if (commits % 2 == 1 || earlier.isEmpty) readCheck(version, latest = true, p)
        else readCheck(earlier(rnd.nextInt(earlier.size)), latest = false, p)
      }
    }

    for (cycle <- 0 until warmCycles + math.max(1, seconds / cycleSeconds)) {
      val p = if (cycle < warmCycles) "warm." else ""
      for (op <- rnd.shuffle(List("append", "merge", "delete"))) {
        if (commits > 0 && commits % optimizeEvery == 0) write("optimize", p)
        write(op, p)
      }
    }
    val cur = Acid.currentVersion(table).get
    rec.scalar("acid.versions", cur.toDouble)
    rec.scalar("acid.live_files", manifestFiles(cur).size.toDouble)
    rec.scalar("acid.manifest_bytes", Files.size(Paths.get(table, s"manifest-$cur.txt")).toDouble)
  }

  private def manifestFiles(v: Long): Set[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(table, s"manifest-$v.txt")).asScala
      .filterNot(_.startsWith("#")).filter(_.nonEmpty).toSet
  }
}

object TableDml {
  private final case class Snap(rows: Long, keySum: Long, cents: Long)
}
