package graft.catalog

import java.util.Locale

import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedInlineTable, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{SubqueryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.execution.{CollectLimitExec, SQLExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.internal.SQLConf

/** The executed DataFrames of the last `StatementLru.Bound` statements,
  * least-recently-used evicted. A repeated statement gets the DataFrame an
  * earlier call built, so its AQE final plan, compiled code and
  * materialized shuffle/broadcast stages are reused and only its result
  * stage runs again. `MemoryCache.statement` and `DfSql.sqlQuery` both
  * keep their statements here.
  *
  * A small result is kept instead: the first hit after its DataFrame ran
  * collects it once through the executed plan and, when it has at most
  * `KeptRows` rows and `KeptBytes` bytes, swaps in a DataFrame over a
  * `LocalRelation` of those rows (same rows in the same order, same
  * schema), whose collection runs no Spark job. A result over either bound
  * is never checked again; its hits rerun the result stage.
  *
  * A build gives its DataFrame and a test of whether that DataFrame
  * still answers the key. It is kept only if the test holds, its plan is
  * `reusable` and no `clear` happened since its lookup; it is served only
  * while the test holds; each insert drops the entries whose test fails.
  * An evicted DataFrame is only dereferenced, so the ContextCleaner
  * removes its shuffle files. */
final class StatementLru[K] {
  import StatementLru.Entry

  private val entries = mutable.LinkedHashMap[K, Entry]()
  private var dropped = 0L // bumped by every clear

  def apply(key: K)(build: => (DataFrame, () => Boolean)): DataFrame = {
    val (hit, stamp) = synchronized {
      val hit = entries.remove(key).filter(_.current())
      hit.foreach(entries(key) = _) // reinsert at the tail = most recently used
      (hit, dropped)
    }
    hit match {
      case Some(e) => served(key, e)
      case None =>
        val (df, current) = build
        if (StatementLru.reusable(df)) synchronized {
          if (stamp == dropped && current()) {
            entries.filterInPlace((_, e) => e.current())
            entries(key) = new Entry(df, current)
            while (entries.size > StatementLru.Bound) entries.remove(entries.head._1)
          }
        }
        df
    }
  }

  /** A hit's DataFrame. The first hit after it ran claims the size check
    * (outside the lock); a kept result replaces the entry only if the
    * entry is still `e` and still current. */
  private def served(key: K, e: Entry): DataFrame = {
    val claimed = !e.checked && StatementLru.executed(e.df) && synchronized {
      val first = !e.checked
      e.checked = true
      first
    }
    if (!claimed) e.df
    else StatementLru.kept(e.df) match {
      case Some(local) =>
        synchronized {
          if (entries.get(key).exists(_ eq e) && e.current())
            entries(key) = new Entry(local, e.current, checked = true)
        }
        local
      case None => e.df
    }
  }

  def clear(): Unit = synchronized { entries.clear(); dropped += 1 }
}

object StatementLru {
  /** Executed statement frames kept per cache. */
  val Bound = 64
  /** Most rows of a kept result. */
  val KeptRows = 10000
  /** Most `UnsafeRow` bytes of a kept result. A kept result is held
    * twice (its relation's rows and its scan's prepared copy), so a cache
    * of `Bound` entries holds at most 128 MiB of kept rows. */
  val KeptBytes: Long = 1L << 20

  private final class Entry(
      val df: DataFrame, val current: () => Boolean, @volatile var checked: Boolean = false)

  /** Same rows on every run: no nondeterministic expression, no current
    * time/date/user and no session variable, in the plan or any subquery. */
  private def reusable(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirstWithSubqueries {
      case p if !p.deterministic ||
          p.containsAnyPattern(TreePattern.CURRENT_LIKE, TreePattern.VARIABLE_REFERENCE) => p
    }.isEmpty

  /** `sqlText` parsed by the session's parser, with every single-part
    * relation name that `own` knows, and that no CTE in scope shadows,
    * replaced by `own`'s frame (qualified as a temp view of that name
    * would be) and every call of a function `functions` names (in any
    * case) by that function, before analysis, so both shadow session views
    * and built-ins; as an analyzed DataFrame, and the test of whether it
    * still answers the statement: false if a relation is neither `own`'s,
    * a CTE, `VALUES` nor a FROM-less row, or once another function it
    * calls maps to another registered builder than before analysis. */
  def analyze(
      spark: SparkSession, sqlText: String, functions: Map[String, UserDefinedFunction])(
      own: String => Option[DataFrame]): (DataFrame, () => Boolean) = {
    val owned = functions.map { case (name, f) => Seq(name.toLowerCase(Locale.ROOT)) -> f }
    var closed = true
    val calls = mutable.Set[Seq[String]]()

    // SQLConf.get is the analysis's conf, which may pin case sensitivity
    def walk(p: LogicalPlan, ctes: Seq[String]): LogicalPlan = (p match {
      case w: UnresolvedWith =>
        val names = w.cteRelations.map(_._1)
        val defs = w.cteRelations.zipWithIndex.map { case ((name, body, depth), i) =>
          // a definition sees the earlier ones, and itself only if RECURSIVE
          val visible = ctes ++ names.take(i) ++ Option.when(w.allowRecursion)(name)
          (name, walk(body, visible).asInstanceOf[SubqueryAlias], depth)
        }
        w.copy(child = walk(w.child, ctes ++ names), cteRelations = defs)
      case UnresolvedRelation(Seq(name), _, _) if ctes.exists(SQLConf.get.resolver(_, name)) => p
      case UnresolvedRelation(Seq(name), _, _) => own(name).fold { closed = false; p } { df =>
        val alias = if (SQLConf.get.caseSensitiveAnalysis) name else name.toLowerCase(Locale.ROOT)
        SubqueryAlias(alias, df.queryExecution.commandExecuted)
      }
      case _: OneRowRelation | _: LocalRelation | _: UnresolvedInlineTable => p
      case _: LeafNode => closed = false; p // a catalog relation, a TVF, …
      case _ => p.mapChildren(walk(_, ctes))
    }).transformExpressions {
      case s: SubqueryExpression => s.withNewPlan(walk(s.plan, ctes))
      case f: UnresolvedFunction => owned.get(f.nameParts.map(_.toLowerCase(Locale.ROOT))) match {
        // an owned aggregate keeps the call's DISTINCT and FILTER
        case Some(udf) => CatalystBridge.call(spark, udf, f.arguments) match {
          case a: AggregateExpression =>
            a.aggregateFunction.toAggregateExpression(f.isDistinct, f.filter)
          case e => e
        }
        case None => calls += f.nameParts; f
      }
    }

    val registry = spark.sessionState.functionRegistry
    def builders = calls.toSeq.map {
      case Seq(name) => registry.lookupFunctionBuilder(FunctionIdentifier(name))
      case _ => None
    }
    var current: () => Boolean = null
    val df = CatalystBridge.sql(spark, sqlText) { parsed =>
      val bound = walk(parsed, Nil)
      val used = builders // compared by reference: a new registration is a new builder
      current = () => closed && !used.contains(None) && builders == used
      bound
    }
    df -> current
  }

  /** `df` ran: its physical plan is prepared and, under AQE, its final
    * plan reached (every shuffle and broadcast stage materialized). Never
    * plans or runs anything itself. */
  private def executed(df: DataFrame): Boolean = Try {
    // another thread may be recording a phase right now, hence the Try
    val qe = df.queryExecution
    qe.tracker.phases.contains(QueryPlanningTracker.PLANNING) && (qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.isFinalPlan
      case _ => true
    })
  }.getOrElse(false)

  /** `df`'s rows in `collect()` order over a `LocalRelation` of its
    * analyzed output, if they fit the bounds; None if not or if the
    * collection failed (the hit then reruns `df` as before). */
  private def kept(df: DataFrame): Option[DataFrame] = {
    val qe = df.queryExecution
    val rows =
      try SQLExecution.withNewExecutionId(qe, Some("collect")) {
        qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => upToBounds(a.finalPhysicalPlan)
          case p => upToBounds(p)
        }
      } catch { case NonFatal(_) => None }
    rows.map(CatalystBridge.local(df.sparkSession, qe.analyzed.output.map(_.newInstance()), _))
  }

  /** The rows `plan.executeCollect()` gives, if they fit the bounds. A
    * LIMIT or top-K root collects as `collect()` does when its limit fits
    * the row bound, so at most that many rows per step come back, and
    * their bytes are checked after; any other root runs one job
    * whose tasks each return at most the bounds. */
  private def upToBounds(plan: SparkPlan): Option[Seq[InternalRow]] = plan match {
    case p: CollectLimitExec if p.limit >= 0 && p.limit <= KeptRows => fits(p.executeCollect())
    case p: TakeOrderedAndProjectExec if p.limit <= KeptRows => fits(p.executeCollect())
    case _: CollectLimitExec | _: TakeOrderedAndProjectExec => None
    case p =>
      val rdd = p.execute()
      val parts = new Array[Array[UnsafeRow]](rdd.getNumPartitions)
      var (rows, bytes, over) = (0L, 0L, false)
      // called once per task, one at a time, as results arrive
      rdd.sparkContext.runJob(rdd,
        (_: TaskContext, it: Iterator[InternalRow]) => partitionUpToBounds(it), parts.indices,
        (i: Int, part: Option[Array[UnsafeRow]]) => if (!over) {
          rows += part.fold(KeptRows + 1L)(_.length.toLong)
          bytes += part.fold(0L)(_.iterator.map(_.getSizeInBytes.toLong).sum)
          if (rows <= KeptRows && bytes <= KeptBytes) parts(i) = part.get
          else { over = true; parts.indices.foreach(parts(_) = null) }
        })
      Option.when(!over)(parts.toSeq.flatten)
  }

  /** One partition's rows, copied, or None once they pass either bound. */
  private def partitionUpToBounds(it: Iterator[InternalRow]): Option[Array[UnsafeRow]] = {
    val out = mutable.ArrayBuffer[UnsafeRow]()
    var bytes = 0L
    while (it.hasNext) {
      val r = it.next().asInstanceOf[UnsafeRow] // as SparkPlan.executeCollect reads them
      bytes += r.getSizeInBytes
      if (out.size == KeptRows || bytes > KeptBytes) return None
      out += r.copy()
    }
    Some(out.toArray)
  }

  private def fits(rows: Array[InternalRow]): Option[Seq[InternalRow]] = {
    val bytes = rows.iterator.map {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case _ => KeptBytes + 1
    }.sum
    Option.when(rows.length <= KeptRows && bytes <= KeptBytes)(rows.toSeq)
  }
}
