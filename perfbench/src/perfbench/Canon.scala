package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale

import org.apache.spark.sql.Row

/** The result digest shared with perfbench/pool.py: every cell rendered
  * as text (NULL, true/false, integers as-is, floats and decimals as
  * %.4f), cells joined with '|', rows sorted, lines joined with '\n',
  * SHA-256 in hex. Both sides must render identically for a correct
  * result to match, so change them together. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: java.lang.Boolean => if (b) "true" else "false"
    case d: java.lang.Double => String.format(Locale.ROOT, "%.4f", d)
    case f: java.lang.Float => String.format(Locale.ROOT, "%.4f", java.lang.Double.valueOf(f.toDouble))
    case d: java.math.BigDecimal =>
      String.format(Locale.ROOT, "%.4f", java.lang.Double.valueOf(d.doubleValue))
    case other => other.toString
  }

  def digest(rows: Array[Row]): String = {
    val lines = rows.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }
}
