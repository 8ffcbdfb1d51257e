package perfbench

import graft.sources.GeoParquet
import org.apache.spark.sql.{DataFrame, Row}

/** Box reads through graft's three read faces: manifest-pruned row
  * reads and counts, and SQL over the `graft` data source (registered
  * as the temp view `view`). Each is checked against the live-point
  * model after it returns.
  */
final class BoxReads(ctx: Ctx, model: Check.LiveModel, path: () => String, view: String) {
  import BoxReads._

  private def planned(span: String)(df: => DataFrame): DataFrame =
    ctx.tracer.span(s"$span.plan") { val d = df; d.queryExecution.executedPlan; d }

  private def where(b: Check.Box): String = {
    val ((x0, x1), (y0, y1)) = b
    s"x >= ${x0}D AND x < ${x1}D AND y >= ${y0}D AND y < ${y1}D"
  }

  /** `queryBoxViaManifest`, rows collected. */
  def query(b: Check.Box, span: String): Op = new Read {
    def name: String = span.stripPrefix("sources.")
    def exec(): Any = {
      val df = planned(span)(
        GeoParquet.queryBoxViaManifest(ctx.spark, path(), b._1, b._2).select("id", "z"))
      val rs = ctx.tracer.span(s"$span.exec")(df.collect())
      ctx.tracer.note(s"$span.exec", "rows_returned", rs.length)
      rs
    }
    def check(r: Any): Boolean = Check.digest(rows(r)) == model.box(b).d
  }

  /** `countBoxViaManifest`. */
  def count(b: Check.Box, opName: String): Op = new Read {
    def name: String = opName
    def exec(): Any = {
      val df = planned("sources.count_box")(
        GeoParquet.countBoxViaManifest(ctx.spark, path(), b._1, b._2))
      ctx.tracer.span("sources.count_box.exec")(df.collect()(0).getLong(0))
    }
    def check(r: Any): Boolean = r == model.box(b).d.n
  }

  /** SQL COUNT/MIN/MAX over the box. */
  def sqlAgg(b: Check.Box): Op = new Read {
    def name = "sql_agg"
    def exec(): Any = {
      val df = planned("sources.v2.sql_box")(
        ctx.spark.sql(s"SELECT count(*), min(z), max(z) FROM $view WHERE ${where(b)}"))
      ctx.tracer.span("sources.v2.sql_box.exec")(df.collect()(0))
    }
    def check(r: Any): Boolean = {
      val row = r.asInstanceOf[Row]; val want = model.box(b)
      row.getLong(0) == want.d.n && (want.d.n == 0 ||
        row.getDouble(1) == want.zMin && row.getDouble(2) == want.zMax)
    }
  }

  /** SQL row select over the box. */
  def sqlRows(b: Check.Box): Op = new Read {
    def name = "sql_rows"
    def exec(): Any = {
      val df = planned("sources.v2.sql_box")(
        ctx.spark.sql(s"SELECT id, z FROM $view WHERE ${where(b)}"))
      ctx.tracer.span("sources.v2.sql_box.exec")(df.collect())
    }
    def check(r: Any): Boolean = Check.digest(rows(r)) == model.box(b).d
  }
}

object BoxReads {
  /** A read moves no ingested points: on `ingest_mutate`,
    * `points_per_s` counts the points the appends ingest.
    */
  private abstract class Read extends Op {
    def kind = "read"
    def points(r: Any): Long = 0L
  }

  def rows(r: Any): Iterator[(Long, Double)] =
    r.asInstanceOf[Array[Row]].iterator.map(row => (row.getLong(0), row.getDouble(1)))
}
