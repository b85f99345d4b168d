package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schemas + table loaders for the engine.
  *
  * The reference's wire format is a GeoJSON `Feature` envelope
  * (reference README.MD:15–43, send.py:8–22); only
  * `properties.RECEIVED_ON` (event time) and `properties.N02_001`
  * (group key) are consumed by any query
  * (reference StreamJobSqlTumbling.java:106–119).
  */
object Schemas {

  /** Pruned parse schema: declaring only the consumed fields lets
    * `from_json` skip the rest at parse time — the Spark-native form of
    * the reference's manual early projection
    * (reference StreamJobSqlTumbling.java:106–119).
    */
  val geojsonPruned: StructType = StructType(Seq(
    StructField("properties", StructType(Seq(
      StructField("RECEIVED_ON", StringType),
      StructField("N02_001", StringType)
    )))
  ))

  /** ISO-8601 with microsecond fraction, the reference's event-time
    * format (reference StreamJobSqlTumbling.java:66, send.py:11–13).
    */
  val isoMicros = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
}

/** Harness `events` table row (TESTDATA.md / FIXTURES.md §2). */
case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

object Tables {

  /** Conf required to read the nanos-timestamped parquet. Graft's own
    * entry points (Verify/Bench/test session builders) set it at
    * session construction; [[load]] self-provisions it only when absent
    * so externally built sessions (e.g. a host application handing us
    * its own SparkSession) work too. The set is additive and
    * idempotent: it only changes how TIMESTAMP(NANOS) parquet columns
    * are surfaced (as long), which Spark would otherwise refuse to read
    * at all — it cannot alter the result of any non-nanos read.
    */
  val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Naive (isAdjustedToUTC=false) parquet timestamps surface as
    * TIMESTAMP_NTZ under Spark 4's `inferTimestampNTZ` default, but the
    * engine's time arithmetic (`unix_micros`, range frames, lag
    * chunking) and the proven oracle chain are TIMESTAMP-typed — round
    * 5's generator switch from TIMESTAMP(NANOS) to naive micros broke
    * every `unix_micros(ts)` call site with a type error. Disabling the
    * inference reads naive parquet timestamps as TIMESTAMP directly
    * (identical epoch micros under the UTC sessions every graft entry
    * point builds), with no cast node in the plan — a cast wrapper
    * would block timestamp predicate pushdown at the scan. */
  val ntzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** Optimizer rule excluded in every session that reads graft tables.
    * InferFiltersFromGenerate synthesizes `size(g) > 0 AND
    * isnotnull(g)` above every explode, and predicate pushdown then
    * substitutes the generator's full defining expression into that
    * filter — re-evaluated per input row, and for nested higher-order
    * lambdas once per lambda element (the measured 300×
    * dedup_candidate_audit blow-up at sf0.1, and a steady ~2× tax on
    * every token-explode query). Every generate input in this engine
    * is non-null and non-empty-filtered by construction, so the
    * inferred filter can never prune a row here — it is pure
    * recompute. Exclusion is the mechanism Spark provides for exactly
    * this (`spark.sql.optimizer.excludedRules`); the set is additive
    * to whatever the host session already excludes. */
  val excludedRule =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
  private val excludedRulesKey = "spark.sql.optimizer.excludedRules"

  /** Load one driver-generated parquet table from an sf directory.
    *
    * Tolerates both timestamp encodings the harness generator has used:
    * TIMESTAMP(NANOS) (read as long via [[nanosConf]], truncated to
    * microsecond TimestampType — lossless, the generator emits
    * microsecond values) and naive micros (read as TIMESTAMP via
    * [[ntzConf]]).
    *
    * Session-global side effect, by design: the three confs this loader
    * self-provisions — the two parquet-timestamp reads and the
    * [[excludedRule]] optimizer exclusion — persist on the host session
    * beyond graft queries. All three are additive and semantically safe
    * for non-graft plans (the excluded rule only synthesizes redundant
    * inferred filters above `explode`), but a host embedding this
    * library should know its session confs are touched; build the
    * session through graft's entry points to get them at construction
    * instead.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (!spark.conf.getOption(nanosConf).contains("true"))
      spark.conf.set(nanosConf, "true")
    if (!spark.conf.getOption(ntzConf).contains("false"))
      spark.conf.set(ntzConf, "false")
    // exact membership on the comma-split list — a substring test would
    // be fooled by a rule name that merely contains this one
    val excluded = spark.conf.getOption(excludedRulesKey).getOrElse("")
    if (!excluded.split(",").map(_.trim).contains(excludedRule))
      spark.conf.set(excludedRulesKey,
        if (excluded.isEmpty) excludedRule else s"$excluded,$excludedRule")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case None => df
    }
  }

  /** Memoized scan partition counts per (session, dir, table) so
    * [[loadSpread]]'s decision costs one physical-planning pass per
    * table per session, not one per query construction. */
  private val scanParts =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), Int]()
  // r17 (advice fix): the memo follows the same lifetime as every other
  // library cache — clearCaches is the documented reset when a
  // long-lived session moves between corpora, and a regenerated dataset
  // at the same dir must not keep a stale split count (wrong
  // spread-or-not decision; performance only, never results).
  Caches.register(() => scanParts.clear())

  /** [[load]] plus a scale-adaptive input spread (optimization guide
    * §2.5 "input skew: one huge unsplittable file … repartition
    * immediately after the read", §6 input splits).
    *
    * The harness tables are single-file, SINGLE-ROW-GROUP parquet, so a
    * scan is irreducibly one task no matter how `maxPartitionBytes` /
    * `openCostInBytes` slice the byte range — every CPU-dense
    * derivation rooted on the raw scan (tokenize + shingle sets,
    * simhash signatures, vector norms, codec passes) ran single-threaded
    * on an idle 32-core box (measured r16: 0.9–5.3 s single-task jobs
    * across the dedup/text/sim substrate builds). A round-robin
    * repartition to the session's default parallelism immediately after
    * the read spreads that work; the exchange itself carries only the
    * pruned columns (column pruning pushes below RoundRobinPartitioning)
    * of a scan-sized frame, which is orders of magnitude cheaper than
    * the serialized compute it unlocks.
    *
    * Scale-honest by construction: the repartition is planned ONLY when
    * the scan has fewer partitions than `defaultParallelism`. On any
    * real cluster-scale input (thousands of splits ≥ cores) this is a
    * no-op and the plan is byte-identical to [[load]] — the knob derives
    * from the input, it is not a local[32] constant. Callers whose whole
    * pipeline is map-side-cheap (gopher rules, chunking) keep using
    * [[load]]: for them an extra full pass over the corpus at 100 TB
    * costs more than serial scanning at bench scale ever could. */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    if (scanPartitions(spark, dir, name) >= spark.sparkContext.defaultParallelism) df
    else df.repartition(spark.sparkContext.defaultParallelism)
  }

  /** Partition count of the raw scan for (dir, name) — the memoized
    * planning pass behind [[loadSpread]]'s decision, exposed so
    * substrate builders can COMPACT a spread derivation's persisted
    * artifact back to the input's own partitioning (r17, guide §5:
    * spread the build, cache at scan width). A cores-wide persisted
    * frame makes every downstream stage over the cache cores-wide —
    * pure per-task overhead once the frame is small — while at
    * cluster scale the spread is a no-op and so is the compaction. */
  def scanPartitions(spark: SparkSession, dir: String, name: String): Int =
    scanParts.computeIfAbsent(
      (System.identityHashCode(spark), dir, name),
      _ => load(spark, dir, name).rdd.getNumPartitions)

  /** Repartition `df` (a frame derived from a spread `name` scan) back
    * to the scan's own partition count for caching — planned ONLY when
    * the spread actually widened the scan, so the plan is untouched on
    * cluster-scale inputs. `repartition`, not `coalesce`: coalesce
    * would pull the spread derivation itself back into the narrow
    * tasks; the extra exchange moves only the derived frame, which at
    * every compaction site is orders of magnitude narrower than the
    * text it was derived from. */
  def compactForCache(spark: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame =
    if (scanPartitions(spark, dir, name) >= spark.sparkContext.defaultParallelism) df
    else df.repartition(scanPartitions(spark, dir, name))

  /** The dual of [[compactForCache]]: re-spread a frame read from a
    * compacted cache before a CPU-dense derivation over it (planned
    * only when the underlying scan is narrower than the session's
    * parallelism — a no-op at cluster scale, same condition as
    * [[loadSpread]]). Without it, deriving from a compacted cache
    * would serialize exactly the compute the original spread
    * parallelized. */
  def spreadForCompute(spark: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame =
    if (scanPartitions(spark, dir, name) >= spark.sparkContext.defaultParallelism) df
    else df.repartition(spark.sparkContext.defaultParallelism)

  /** Release every cached frame this library pinned (shingle index,
    * normalized vectors, shared pair frames) plus any memoized derived
    * results registered via [[Caches.register]]. The per-query helpers
    * persist small derived frames and rely on the CacheManager deduping
    * identical plans across queries — cheap within one run, but a
    * long-lived session moving between corpora should call this between
    * datasets. */
  def clearCaches(spark: SparkSession): Unit = Caches.clearAll(spark)
}

/** Registry of library-held caches that are NOT plan-cached (e.g. the
  * memoized connected-components result, which is an eagerly
  * checkpointed frame, invisible to the CacheManager). Query families
  * register a clear hook at init; [[clearAll]] drops everything. */
object Caches {
  private val hooks = new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()
  def register(hook: () => Unit): Unit = hooks.add(hook)
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    hooks.forEach(h => h())
  }
}
