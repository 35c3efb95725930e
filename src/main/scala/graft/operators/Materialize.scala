package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.storage.StorageLevel

/** The single materialization seam for every operator that cuts lineage.
  *
  * The dedup / similarity / analytics pipelines materialize shared
  * subtrees and fixpoint state ~40 times (CLAUDE.md rule 5: a subtree
  * read by two join branches recomputes 2-4x without it). On `local[32]`
  * the right tool is `localCheckpoint()` — free, in-memory, eager. On a
  * real 1000-executor cluster it is NOT fault-tolerant: blocks live only
  * on the executors that computed them, so one executor loss kills a job
  * mid-fixpoint. Production deployments need reliable `checkpoint()`
  * (HDFS/S3-backed, survives executor loss) or replicated
  * `persist(DISK_ONLY_2)` — but that choice must not require editing
  * every operator.
  *
  * `Materialize.once(df)` is that one switch. Strategy is read per-call
  * from the session's runtime conf key `graft.materialize` so a
  * deployment (or a spec) flips it with
  * `spark.conf.set("graft.materialize", "reliable")` — no code edits,
  * and different sessions in one JVM can differ.
  *
  *   - `local`    (default): `localCheckpoint(eager=true)` — today's
  *     behavior everywhere.
  *   - `reliable`: `checkpoint(eager=true)` — requires
  *     `sc.setCheckpointDir` (Spark errors loudly if unset). Use on
  *     clusters where a mid-job executor loss must not kill a
  *     multi-hour dedup chain.
  *   - `persist`:  `persist(DISK_ONLY_2)` + an eager count. Keeps
  *     lineage (re-computable after TOTAL cache loss) while the 2x
  *     replication survives single-executor loss; cheaper than
  *     `reliable` when no distributed FS is mounted.
  *
  * All three are EAGER — callers rely on construction-time
  * materialization (e.g. the CC fixpoint's convergence `Observation`
  * rides the materialization job, Dedup.scala). `persist` alone is lazy
  * in Spark, so the seam forces it with a `count()`; the extra job is
  * the documented cost of that strategy.
  */
object Materialize {

  /** Runtime-conf key; values: local | reliable | persist. */
  val ConfKey = "graft.materialize"

  val Strategies: Seq[String] = Seq("local", "reliable", "persist")

  /** The configured strategy. Any other value fails: a typo such as
    * `reliabel` must not quietly fall back to the non-fault-tolerant
    * `local`. */
  private def strategy(df: DataFrame): String = {
    val s = df.sparkSession.conf.get(ConfKey, "local")
    if (!Strategies.contains(s)) throw new graft.MaterializeStrategyException(s)
    s
  }

  def once(df: DataFrame): DataFrame = strategy(df) match {
    case "reliable" => df.checkpoint()
    case "persist" =>
      val p = df.persist(StorageLevel.DISK_ONLY_2)
      p.count()
      p
    case _ => df.localCheckpoint()
  }

  /** Like `once`, but GUARANTEES a lineage cut. `persist(DISK_ONLY_2)`
    * keeps lineage, so a frame holding NONDETERMINISTIC values
    * (`monotonically_increasing_id`, `rand`) could recompute DIFFERENT
    * values if both replicas of a block die mid-query — silently
    * corrupting any join keyed on those values. Frames that assign ids
    * must call this instead: under `persist` it falls back to
    * `localCheckpoint` (cuts lineage; single-copy, same loss risk as
    * `local` but never *wrong*), the other strategies already cut. */
  def cut(df: DataFrame): DataFrame = strategy(df) match {
    case "reliable" => df.checkpoint()
    case _          => df.localCheckpoint()
  }

  /** Aggregate metrics read back from an observed materialization.
    * Null-safe: an aggregate over an empty frame (a null sum or max)
    * reads as zero, whatever numeric type Spark delivered. */
  final class Metrics private[Materialize] (values: Map[String, Any]) {
    def long(name: String): Long = values.get(name) match {
      case Some(n: Number) => n.longValue
      case _               => 0L
    }

    def decimal(name: String): java.math.BigDecimal = values.get(name) match {
      case Some(d: java.math.BigDecimal) => d
      case _                             => java.math.BigDecimal.ZERO
    }
  }

  /** Materialize `df` with the named aggregate metrics riding the materialization job as
    * an Observation — the one place an operator reads a driver-side
    * decision (a fixpoint sum, a max size, a row count) off a frame it
    * cuts anyway, at zero extra jobs. All three strategies are eager, so
    * the metrics are final when this returns. */
  private def observed(df: DataFrame, materialize: DataFrame => DataFrame,
      metric: Column, more: Seq[Column]): (DataFrame, Metrics) = {
    val obs = Observation()
    val out = materialize(df.observe(obs, metric, more: _*))
    (out, new Metrics(obs.get))
  }

  /** Postfix form so call sites keep reading like the plan they build:
    * `df.join(...).groupBy(...).agg(...).materializeOnce()`.
    */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def materializeOnce(): DataFrame = Materialize.once(df)

    /** Lineage-cutting variant for nondeterministic-value frames. */
    def materializeCut(): DataFrame = Materialize.cut(df)

    /** [[materializeOnce]] plus named aggregate metrics over the frame,
      * read from the same job. */
    def materializeOnce(metric: Column, more: Column*): (DataFrame, Metrics) =
      observed(df, Materialize.once, metric, more)

    /** [[materializeCut]] plus named aggregate metrics over the frame. */
    def materializeCut(metric: Column, more: Column*): (DataFrame, Metrics) =
      observed(df, Materialize.cut, metric, more)
  }
}
