package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one workload run hands back to [[Main]]: the set-up time, the
  * workload's operation latency (p50, p95, ms) and throughput, the checked
  * operations and how many of them failed, the storage held after set-up,
  * and the per-layer metrics (traced run only). */
final case class Outcome(
    setupS: Double,
    p50Ms: Double,
    p95Ms: Double,
    perS: Double,
    attempted: Long,
    failed: Long,
    layers: Seq[(String, Double, String)],
    cacheMb: Double)

/** What the block manager holds at one moment: storage of persisted and
  * checkpointed RDDs, their cached partitions, and the localCheckpoint
  * RDDs among them. */
final case class Held(mb: Double, blocks: Int, checkpoints: Int)

/** Shared state of one run. */
final class Ctx(
    val spark: SparkSession,
    val work: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val sessionS: Double) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark.sparkContext, trace)
  val rng = new scala.util.Random(seed)

  def held: Held = {
    val sc = spark.sparkContext
    val info = sc.getRDDStorageInfo
    Held(info.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      info.map(_.numCachedPartitions).sum,
      sc.getPersistentRDDs.values.count(org.apache.spark.PerfbenchHooks.isLocalCheckpoint))
  }

  /** Leak accounting: what is held now beyond `base` (taken after set-up),
    * and the files under the run's reliable-checkpoint directory. Nothing
    * is evicted first, so a leak shows. */
  def leaks(base: Held): Seq[(String, Double, String)] = {
    val now = held
    Seq(
      ("core.retained_mb", now.mb - base.mb, "MB"),
      ("core.live_blocks", (now.blocks - base.blocks).toDouble, "count"),
      ("core.checkpoint_rdds", (now.checkpoints - base.checkpoints).toDouble, "count"),
      ("core.checkpoint_files", Bench.dataFiles(s"$work/checkpoints").size.toDouble, "count"))
  }
}

object Bench {

  def nowS(): Double = System.nanoTime() / 1e9

  def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `op` and then, untimed, `check` on its result: at least `min`
    * times, and again while one more call, as long as the last, still
    * ends within `seconds`. Returns each call's latency (ms) and their
    * sum (s). */
  def repeat[T](seconds: Double, min: Int)(op: => T)(check: T => Unit)
      : (Seq[Double], Double) = {
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = nowS()
    while (lat.size < min || nowS() - t0 + lat.last / 1e3 <= seconds) {
      val (r, ms) = timedMs(op)
      lat += ms
      check(r)
    }
    (lat.toSeq, lat.sum / 1e3)
  }

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** The geometric mean over groups of each group's `q` quantile, so that
    * every group weighs the same whatever its latency and sample count. */
  def groupQuantile(xs: Seq[(String, Double)], q: Double): Double = {
    val per = xs.groupBy(_._1).values.map(g => quantile(g.map(_._2), q))
    if (per.isEmpty) 0.0 else math.exp(per.map(math.log).sum / per.size)
  }

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Order-independent content checksum of a table: row count and the sum
    * of a per-row xxhash64. Computing it forces every column of `df`, so it
    * doubles as the span-forcing probe. */
  def checksum(df: DataFrame): (Long, Long) =
    checksums(Seq("" -> df))("")

  /** [[checksum]] of several tables in one job. */
  def checksums(tables: Seq[(String, DataFrame)]): Map[String, (Long, Long)] = {
    val hashes = tables.map { case (name, df) =>
      val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
      df.select(lit(name).as("t"),
        pmod(xxhash64(struct(cols: _*)), lit(1000000007L)).as("h"))
    }.reduce(_ unionByName _)
    val got = hashes.groupBy("t").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    tables.map { case (name, _) => name -> got.getOrElse(name, (0L, 0L)) }.toMap
  }

  /** A hashable form of a value whose hash does not depend on evaluation
    * order: maps become their sorted entries (map order follows
    * aggregation order), doubles are rounded to 9 decimals (their last
    * bits follow summation order). */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case m: MapType =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), m.keyType).as("k"),
        canon(e.getField("value"), m.valueType).as("v"))))
    case s: StructType =>
      when(c.isNotNull, struct(s.fields.toSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case a: ArrayType => transform(c, x => canon(x, a.elementType))
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case _ => c
  }

  /** Data files under a directory (hidden and `_`-marker files skipped). */
  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new java.io.File(dir))
  }

  def fmt(c: (Long, Long)): String = s"${c._1}:${c._2}"
}
