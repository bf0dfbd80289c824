import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** graft — a Spark-native analytics engine with the query surface of
  * elixir-explorer/explorer, rebuilt idiomatically on DataFrame/Column/
  * Catalyst (see SURVEY.md). Entry points: [[graft.Gdf]] (dataframe verbs),
  * [[graft.exprs]] (expression vocabulary), [[graft.io.GraftIO]] (sources/
  * sinks), [[graft.operators]] (as-of join, dedup, similarity, text). */
package object graft {
  /** Column reference in expression position (the reference's
    * `LazySeries{op: :column}`, query_frame.ex:85-91). */
  def gcol(name: String): Series = Series(F.col(name))

  def glit(v: Any): Series = Series(F.lit(v))

  /** The one bound on data a route brings to the driver instead of
    * running distributed: manifest parts up to it replay on the driver
    * ([[graft.io.Manifest]]), and connected components whose edges fit
    * under it finish there ([[graft.operators.Dedup.duplicateClusters]]). */
  private[graft] val DriverMaxBytes: Long = 8L << 20

  implicit class RichDataFrame(private val df: DataFrame) extends AnyVal {
    def graft: Gdf = Gdf(df)
  }
}
