package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graft.CatalystBridge

import graft.{DfsqlException, UnknownTable}
import graft.catalog.StatementLru
import graft.sql.Dialect

/** One-shot functional entry points mirroring the reference's
  * `sql_query(sql, **dataframes)` (reference: dfsql/__init__.py:12-36) and
  * the `df.sql("SELECT …")` accessor (reference: dfsql/extensions.py:10-68).
  *
  * Unlike the reference — which round-trips every DataFrame through a temp
  * CSV — incoming DataFrames are bound straight into the parsed plan:
  * each relation a binding names becomes that DataFrame's plan, in
  * subqueries too, and a CTE of the same name shadows the binding;
  * `sqlQueryWith`'s functions are bound into that call's plan the same
  * way. No temp view or function is registered, so a call touches no
  * session state and calls on one session can run from many threads.
  * There is no driver-side materialization: the plans (and their
  * pushdowns) stay distributed.
  *
  * A repeated call gets the executed DataFrame of the earlier one (a
  * `StatementLru`), so only its result stage runs again; once that one
  * ran, a small result is kept as rows and later repeats run no Spark
  * job. The key is the final SQL text, the binding names, the bound
  * DataFrames by reference, the custom functions and the session's
  * explicitly-set confs. A DataFrame is kept and served only while every
  * bound DataFrame is persisted (the same cache entry as when it was
  * built), every relation of the statement is a binding or a CTE, every
  * session function it calls has the registration it had, and its plan
  * is deterministic and reads no current time; unpersisted bindings
  * never reuse. */
object DfSql {

  /** Run `sql` against the given name→DataFrame bindings. Mirrors the
    * reference's validations: at least one table; every binding must be
    * referenced in the SQL text. */
  def sqlQuery(sql: String, tables: (String, DataFrame)*): DataFrame =
    sqlQueryWith(sql, Map.empty, tables: _*)

  /** sqlQuery with reference-style custom functions (reference:
    * __init__.py custom_functions kwarg). They are bound into this call's
    * plan only, as the reference's temporary DataSource scopes them: they
    * shadow same-named built-ins in this statement, and the session's
    * function registry is not touched. */
  def sqlQueryWith(
      sql: String,
      customFunctions: Map[String, UserDefinedFunction],
      tables: (String, DataFrame)*): DataFrame = {
    if (tables.isEmpty)
      throw new DfsqlException(
        "Wrong from_tables value. Expected a non-empty set of table name -> DataFrame bindings.")
    tables.foreach { case (name, _) =>
      if (!sql.contains(name))
        throw new DfsqlException(
          s"Table $name found in from_tables, but not in the SQL query.")
    }
    val functions = customFunctions.map { case (name, f) => name -> f.withName(name) }
    val cached = tables.map { case (_, df) => CatalystBridge.cacheEntry(df) }
    if (cached.contains(None)) bind(sql, tables, functions)._1
    else {
      val bindings = tables.zip(cached.flatten).map { case ((name, df), c) => new Binding(name, df, c) }
      statements(Key(sql, bindings, functions, tables.head._2.sparkSession.conf.getAll)) {
        val (df, current) = bind(sql, tables, functions)
        df -> (() => bindings.forall(_.current) && current())
      }
    }
  }

  private val statements = new StatementLru[Key]

  /** What a sqlQuery DataFrame depends on: the final SQL text, its
    * bindings, its custom functions and the session's explicitly-set
    * confs. */
  private final case class Key(sql: String, bindings: Seq[Binding],
      functions: Map[String, UserDefinedFunction], confs: Map[String, String])

  /** A bound name, its DataFrame and the cache entry that DataFrame read
    * when the call began; equal only for the same name, DataFrame object
    * and entry. */
  private final class Binding(val name: String, val df: DataFrame, val cached: AnyRef) {
    /** Still the same cache entry: not unpersisted since. */
    def current: Boolean = CatalystBridge.cacheEntry(df).exists(_ eq cached)
    override def equals(o: Any): Boolean = o match {
      case b: Binding => name == b.name && (df eq b.df) && (cached eq b.cached)
      case _ => false
    }
    override def hashCode: Int =
      (name, System.identityHashCode(df), System.identityHashCode(cached)).##
  }

  /** `sql` parsed by the session's parser with `tables` and `functions`
    * bound in, as an analyzed DataFrame, and the test of whether that
    * DataFrame still answers the statement (`StatementLru.analyze`): false
    * if a relation is neither a binding nor a CTE, or once a session
    * function it calls is registered anew. */
  private def bind(
      sql: String, tables: Seq[(String, DataFrame)],
      functions: Map[String, UserDefinedFunction]): (DataFrame, () => Boolean) = {
    val spark = tables.head._2.sparkSession
    try {
      val (df, current) = StatementLru.analyze(spark, Dialect.lower(sql), functions) { name =>
        tables.collectFirst { case (n, df) if spark.sessionState.conf.resolver(n, name) => df }
      }
      graft.sql.JoinNaming.disambiguate(df) -> current
    } catch {
      // reference error contract (test_interface.py
      // test_error_wrong_table_name): an unbound table raises the
      // library's own exception; nothing was registered, so a retry
      // starts clean
      case UnknownTable(name) => throw new DfsqlException(s"Unknown table $name")
    }
  }

  /** sqlQuery with the reference's reduce_output=True semantics: a 1×1
    * result comes back as a Scalar (reference: __init__.py:12,
    * base_data_source.py:455-461). */
  def sqlQueryReduced(
      sql: String, tables: (String, DataFrame)*): graft.catalog.QueryResult =
    graft.catalog.QueryResult.reduce(sqlQuery(sql, tables: _*))

  /** `df.sql("SELECT a WHERE b > 1")` — implicit-FROM accessor. The frame
    * is bound as table `temp` and every FROM-less SELECT gets
    * `from temp` spliced in (Dialect.addImplicitFrom). */
  implicit class SqlOps(private val df: DataFrame) {
    def sql(query: String): DataFrame = {
      // literal dotted columns (join output naming) stay addressable
      // without manual backticks, as in the reference
      val dotted = df.columns.filter(_.contains(".")).toSet
      val withFrom = Dialect.addImplicitFrom(
        Dialect.backtickDottedColumns(query, dotted), "temp")
      sqlQuery(withFrom, "temp" -> df)
    }
  }
}
