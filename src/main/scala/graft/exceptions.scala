package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser

/** Exception family mirroring the reference's
  * dfsql/exceptions.py: DfsqlException > {CommandException,
  * QueryExecutionException}. */
class DfsqlException(msg: String) extends RuntimeException(msg)
class CommandException(msg: String) extends DfsqlException(msg)
class QueryExecutionException(msg: String) extends DfsqlException(msg)

/** The table an analysis failed to find, as the statement named it:
  * Spark quotes `relationName` (`` `t` ``), the reference's
  * `Unknown table t` does not. */
object UnknownTable {
  def unapply(e: AnalysisException): Option[String] =
    if (e.getCondition != "TABLE_OR_VIEW_NOT_FOUND") None
    else Some(e.messageParameters.get("relationName").fold("?") { quoted =>
      scala.util.Try(CatalystSqlParser.parseMultipartIdentifier(quoted).mkString("."))
        .getOrElse(quoted)
    })
}
