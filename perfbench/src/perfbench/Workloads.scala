package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

import graft.api.DfSql
import graft.api.DfSql.SqlOps
import graft.catalog.{DataSource, MemoryCache, QueryResult, TableCache}
import graft.commands.Commands
import graft.operators.Dedup
import graft.sql.{Dialect, JoinNaming}
import perfbench.Main.check

/** Shared by the two facade workloads: the catalog opened with
  * `DataSource.fromDir` (default MemoryCache) and per-op layer probes. */
abstract class FacadeWorkload(spark: SparkSession, m: JsonNode, writeDir: Path, tracer: Tracer)
    extends Workload {
  protected val ds: DataSource =
    DataSource.fromDir(spark, writeDir.toString, m.get("data_dir").asText)
  val baseTables: Set[String] = ds.tableNames.toSet

  /** The catalog's own cache; fromDir builds it and keeps it private. */
  private val cache: Option[MemoryCache] = classOf[DataSource].getDeclaredFields
    .find(f => classOf[TableCache].isAssignableFrom(f.getType))
    .map { f => f.setAccessible(true); f.get(ds) }
    .collect { case c: MemoryCache => c }

  protected def us(ns: Long): Double = ns / 1e3

  /** Probe timings of the facade's first steps on one statement, on the
    * same text the facade received: the command sniff, the dialect
    * lowering and the join-name pass (when its views still exist). */
  protected def probeStatement(sql: String): Unit = {
    val t0 = System.nanoTime()
    val cmd = Commands.tryParse(sql)
    val t1 = System.nanoTime()
    add("commands.tryparse_us", us(t1 - t0))
    if (cmd.isEmpty) {
      val lowered = Dialect.lower(sql)
      add("sql.lower_us", us(System.nanoTime() - t1))
      scala.util.Try(spark.sql(lowered)).foreach { raw =>
        val t2 = System.nanoTime()
        JoinNaming.disambiguate(raw)
        add("sql.disambiguate_us", us(System.nanoTime() - t2))
      }
    }
  }

  /** The statements op i sent through DataSource.query. */
  protected def statements(i: Int): Seq[String]

  override def probe(i: Int): Unit = {
    statements(i).foreach(probeStatement)
    tracer.total(i, "catalog.query").foreach { q =>
      layer("catalog.self_ms") = q - layer.getOrElse("sql.lower_us", 0.0) / 1e3 -
        layer.getOrElse("catalyst.parse_ms", 0.0) - layer.getOrElse("catalyst.analysis_ms", 0.0)
    }
  }

  protected def add(name: String, v: Double): Unit =
    layer(name) = layer.getOrElse(name, 0.0) + v

  /** Catalyst phase times and rule effectiveness of one executed frame. */
  protected def catalyst(df: DataFrame): Unit = if (tracer.enabled) {
    val tr = df.queryExecution.tracker
    def phase(p: String) = tr.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    add("catalyst.parse_ms", phase("parsing"))
    add("catalyst.analysis_ms", phase("analysis"))
    add("catalyst.optimize_ms", phase("optimization"))
    add("catalyst.plan_ms", phase("planning"))
    val rules = tr.rules.values
    val runs = rules.map(_.numInvocations).sum
    if (runs > 0) layer("catalyst.rule_effective_ratio") =
      rules.map(_.numEffectiveInvocations).sum.toDouble / runs
  }

  protected def collect(df: DataFrame): Array[Row] = {
    val rows = tracer.span("deliver.collect")(df.collect())
    if (tracer.enabled) {
      layer("deliver.collect_end_ms") = System.currentTimeMillis().toDouble
      add("deliver.rows", rows.length)
      catalyst(df)
    }
    rows
  }

  override def op(i: Int): Unit = {
    val (hits0, misses0, _) = cache.map(_.info).getOrElse((0L, 0L, 0))
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    run(i)
    if (tracer.enabled) {
      val (h, mi, _) = cache.map(_.info).getOrElse((0L, 0L, 0))
      val (hits, misses) = (h - hits0, mi - misses0)
      layer("catalog.cache_misses") = misses
      if (hits + misses > 0) layer("catalog.cache_hit_ratio") = hits.toDouble / (hits + misses)
      layer("codegen.compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      layer("codegen.compile_ms") = (CodeGenerator.compileTime - compileNs0) / 1e6
      tracer.total(i, "catalog.query").foreach(layer("catalog.query_ms") = _)
    }
  }

  protected def run(i: Int): Unit
}

/** One facade statement of the pool and its expected answer. */
final case class Stmt(id: String, kind: String, sql: String,
    bindings: Seq[(String, String)], rows: Int, digest: String)

/** Read-only SELECT traffic through the facade over a fully cached
  * catalog: times driver-side work (catalog, dialect, Catalyst, job
  * scheduling). Every result is collected and compared with DuckDB's. */
final class FacadeSelect(spark: SparkSession, m: JsonNode, writeDir: Path, tracer: Tracer)
    extends FacadeWorkload(spark, m, writeDir, tracer) {
  private val pool = m.get("pool").asScala.map { e =>
    Stmt(e.get("id").asText, e.get("kind").asText, e.get("sql").asText,
      e.get("bindings").asScala.map(b => b.get(0).asText -> b.get(1).asText).toSeq,
      e.get("rows").asInt, e.get("digest").asText)
  }.toVector
  private val order = m.get("order").asScala.map(_.asInt).toVector

  private def stmt(i: Int): Stmt = pool(order(i % order.length))

  protected def statements(i: Int): Seq[String] =
    Some(stmt(i)).filter(_.kind == "ds").map(_.sql).toSeq

  protected def run(i: Int): Unit = {
    val s = stmt(i)
    val df = s.kind match {
      case "ds" => tracer.span("catalog.query")(ds.queryDF(s.sql))
      case "sqlquery" =>
        val frames = s.bindings.map { case (alias, table) => alias -> ds.table(table) }
        tracer.span("api.sqlquery")(DfSql.sqlQuery(s.sql, frames: _*))
      case "implicit" =>
        val frame = ds.table(s.bindings.head._2)
        tracer.span("api.implicit_from")(frame.sql(s.sql))
    }
    val rows = collect(df)
    check(rows.length == s.rows, s"${s.id}: ${rows.length} rows, expected ${s.rows}")
    check(Canon.digest(rows) == s.digest, s"${s.id}: result differs from the DuckDB answer")
    for (k <- Seq("api.sqlquery", "api.implicit_from"); t <- tracer.total(i, k))
      layer(k + "_ms") = t
  }
}

/** Catalog writes through DataSource.query: every table of a cycle is new,
  * so the table cache misses where facade_select hits. Table names cycle
  * through a fixed ring, which keeps the files left behind bounded. */
final class CatalogChurn(spark: SparkSession, m: JsonNode, writeDir: Path, tracer: Tracer)
    extends FacadeWorkload(spark, m, writeDir, tracer) {
  private val ring = m.get("ring").asInt
  private val ctas = m.get("ctas").asScala.toVector
  private val csv = m.get("csv").asScala.toVector

  /** Op i's cycle: (span, statement) for each DataSource.query call. */
  private def cycle(i: Int): Seq[(String, String)] = {
    val slot = i % ring
    val t = s"t_$slot"
    val fx = csv(slot)
    Seq(
      "commands.ctas" -> s"CREATE TABLE $t AS ${ctas(i % ctas.size).get("select").asText}",
      "catalog.query" -> s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $t",
      "commands.create_file" -> s"CREATE TABLE (${fx.get("path").asText})",
      "catalog.query" -> fx.get("select").asText,
      "commands.show" -> "SHOW TABLES",
      "commands.drop" -> s"DROP TABLE $t",
      "commands.drop" -> s"DROP TABLE ${fx.get("name").asText}")
  }

  protected def statements(i: Int): Seq[String] = cycle(i).map(_._2)

  protected def run(i: Int): Unit = {
    val v = ctas(i % ctas.size)
    val fx = csv(i % ring)
    val t = s"t_${i % ring}"
    val name = fx.get("name").asText
    // each result is collected before the next statement runs
    val rows = cycle(i).map { case (span, sql) =>
      tracer.span(span)(ds.query(sql)) match {
        case QueryResult.Frame(df) => collect(df)
        case _ => Array.empty[Row]
      }
    }
    val r1 = rows(1)
    check(r1(0).getLong(0) == v.get("rows").asLong && r1(0).getDouble(1) == v.get("qty").asDouble,
      s"$t: (${r1(0)}) expected (${v.get("rows")}, ${v.get("qty")})")
    val r2 = rows(3)
    check(r2(0).getLong(0) == fx.get("rows").asLong && r2(0).getLong(1) == fx.get("sum").asLong,
      s"$name: (${r2(0)}) expected (${fx.get("rows")}, ${fx.get("sum")})")
    val shown = rows(4).map(_.getString(0)).toSet
    check(shown == baseTables + t + name, s"SHOW TABLES listed ${shown.toSeq.sorted}")
    check(ds.tableNames.toSet == baseTables, s"tables left after DROP: ${ds.tableNames}")
    for (k <- Seq("commands.ctas", "commands.create_file", "commands.show", "commands.drop");
         d <- tracer.total(i, k)) layer(k + "_ms") = d
  }
}

/** The daily-ingest loop over a persisted signature store: dedup each
  * incoming batch against the store, then append its survivors. Batches
  * come from P disjoint pools and append into m < P rotating tag slots,
  * so the store (and every op's decisions) repeats with period P. */
final class DedupIngest(spark: SparkSession, m: JsonNode, writeDir: Path, tracer: Tracer)
    extends Workload {
  import spark.implicits._
  private val store = writeDir.resolve("store").toString
  private val threshold = m.get("threshold").asDouble
  private val maxDf = m.get("max_df").asInt
  private val slots = m.get("slots").asInt
  private def docs(path: String): DataFrame =
    spark.read.parquet(path).select(col("doc_id"), col("text"))
  private val base = docs(m.get("base").asText)
  private val pools = m.get("pools").asScala.map(p => docs(p.asText)).toVector
  private val poolSize = pools.map(_.count())
  /** (doc_id, keep, reason) by op index, for the last two periods. */
  private val decisions = mutable.Map[Int, Seq[(Long, Boolean, String)]]()

  Dedup.writeSignatureStore(base, store)

  private def rowsOf(df: DataFrame): Seq[(Long, Boolean, String)] =
    df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq

  def op(i: Int): Unit = {
    val p = i % pools.size
    val sc = spark.sparkContext
    ExecListener.tag(sc, i, "construct")
    val res = tracer.span("operators.dedup_construct")(
      Dedup.dedupBatchAgainstStore(spark, pools(p), store, threshold, maxDf))
    ExecListener.tag(sc, i, "action")
    val got = tracer.span("operators.decide")(rowsOf(res))
    check(got.size == poolSize(p), s"op $i: ${got.size} decisions for ${poolSize(p)} docs")
    decisions(i) = got
    decisions.remove(i - 2 * pools.size)
    if (i >= pools.size)
      check(got == decisions(i - pools.size),
        s"op $i: decisions differ from op ${i - pools.size} on the same pool")
    val keep = got.filter(_._2).map(_._1)
    val survivors = pools(p).join(keep.toDF("doc_id"), Seq("doc_id"), "left_semi")
    ExecListener.tag(sc, i, "append")
    tracer.span("operators.append")(
      Dedup.appendBatchToStore(survivors, store, tag = Some(s"slot_${i % slots}")))
    if (tracer.enabled) {
      layer("operators.dedup_construct_ms") = tracer.total(i, "operators.dedup_construct").get
      layer("operators.append_ms") = tracer.total(i, "operators.append").get
      layer("operators.keep_ratio") = keep.size.toDouble / got.size
    }
  }

  /** Decisions of the last two timed ops against the program's
    * recompute reference: incrementalDedup over the store's contents ∪
    * the batch. One reference costs about as much as one op, which is
    * why not every op is compared. */
  override def finalChecks(first: Int, last: Int): Seq[String] = {
    val P = pools.size
    ((last - 1).max(first) to last).flatMap { j =>
      val held = (1 to slots).map(d => j - d).filter(_ >= 0).map { k =>
        val kept = decisions(k).filter(_._2).map(_._1)
        pools(k % P).join(kept.toDF("doc_id"), Seq("doc_id"), "left_semi")
      }
      val corpus = (base +: held :+ pools(j % P)).reduce(_ unionByName _)
      val ids = decisions(j).map(_._1)
      val ref = rowsOf(Dedup.incrementalDedup(corpus,
        col("doc_id").between(ids.min, ids.max), threshold, maxDf))
      if (ref == decisions(j)) None
      else Some(s"op $j: store-path decisions differ from incrementalDedup over store ∪ batch")
    }
  }

  override def afterDrain(listener: ExecListener, op: Int): Map[String, Double] = Map(
    "operators.construct_jobs" -> listener.jobCount(op, "construct").toDouble,
    "operators.action_jobs" -> listener.jobCount(op, "action").toDouble)
}
