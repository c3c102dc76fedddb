package graft.pipeline

import org.apache.spark.sql.DataFrame

/** S3/S4 — HTML sinks (`/root/reference/amazon1.py:36-39, 218-266,
  * 282-330`): pure presentation over a `collect()` of a bounded
  * result. The engine part is `limit(n)` (CollectLimitExec); rendering
  * is deliberately driver-side — a k-row recommendation or a head-10
  * preview is the one place `collect()` belongs. */
object HtmlSink {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** S3 — `df.head(n).to_html()` equivalent. */
  def tableHtml(df: DataFrame, n: Int): String = {
    val cols = df.columns
    val rows = df.limit(n).collect()
    val head = cols.map(c => s"<th>${esc(c)}</th>").mkString
    val body = rows.map { r =>
      cols.indices.map { i =>
        val v = if (r.isNullAt(i)) "" else r.get(i).toString
        s"<td>${esc(v)}</td>"
      }.mkString
    }.map(tds => s"<tr>$tds</tr>").mkString("\n")
    s"<table>\n<thead><tr>$head</tr></thead>\n<tbody>\n$body\n</tbody>\n</table>"
  }

  /** S4 — the recommendation report (`amazon1.py:218-266`): title +
    * rendered rows of an already-bounded recommendation result. */
  def reportHtml(title: String, recommendations: DataFrame, k: Int = 5): String =
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title></head>
       |<body><h1>${esc(title)}</h1>
       |${tableHtml(recommendations, k)}
       |</body></html>""".stripMargin
}
