package graft.catalog

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.trees.TreePattern

/** The executed DataFrames of the last `StatementLru.Bound` statements,
  * least-recently-used evicted. A repeated statement gets the DataFrame an
  * earlier call built, so its AQE final plan, compiled code and
  * materialized shuffle/broadcast stages are reused and only its result
  * stage runs again. `MemoryCache.statement` and `DfSql.sqlQuery` both
  * keep their statements here.
  *
  * A build gives its DataFrame and a test of whether that DataFrame
  * still answers the key. It is kept only if the test holds, its plan is
  * `reusable` and no `clear` happened since its lookup; it is served only
  * while the test holds; each insert drops the entries whose test fails.
  * An evicted DataFrame is only dereferenced, so the ContextCleaner
  * removes its shuffle files. */
final class StatementLru[K] {
  private val entries = mutable.LinkedHashMap[K, (DataFrame, () => Boolean)]()
  private var dropped = 0L // bumped by every clear

  def apply(key: K)(build: => (DataFrame, () => Boolean)): DataFrame = {
    val (hit, stamp) = synchronized {
      val hit = entries.remove(key).filter(_._2())
      hit.foreach(entries(key) = _) // reinsert at the tail = most recently used
      (hit.map(_._1), dropped)
    }
    hit.getOrElse {
      val (df, current) = build
      if (StatementLru.reusable(df)) synchronized {
        if (stamp == dropped && current()) {
          entries.filterInPlace((_, e) => e._2())
          entries(key) = df -> current
          while (entries.size > StatementLru.Bound) entries.remove(entries.head._1)
        }
      }
      df
    }
  }

  def clear(): Unit = synchronized { entries.clear(); dropped += 1 }
}

object StatementLru {
  /** Executed statement frames kept per cache. */
  val Bound = 64

  /** Same rows on every run: no nondeterministic expression, no current
    * time/date/user and no session variable, in the plan or any subquery. */
  private def reusable(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirstWithSubqueries {
      case p if !p.deterministic ||
          p.containsAnyPattern(TreePattern.CURRENT_LIKE, TreePattern.VARIABLE_REFERENCE) => p
    }.isEmpty
}
