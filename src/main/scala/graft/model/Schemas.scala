package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.io.Tables.t
import graft.util.Det._

/** Typed record definitions — the Spark-native `models/` layer of the
  * reference taxonomy (SURVEY.md §0.2). Case classes mirror the column
  * types of the fixture schemas declared in [[graft.io.Tables]], so
  * `df.as[T]` is a zero-copy schema assertion: it fails fast on drift
  * and gives compile-time column safety downstream.
  *
  * Scale tradeoff, stated honestly: typed lambdas (`filter(_.x > 1)`)
  * are opaque to Catalyst — no predicate pushdown, no column pruning
  * through them. Use the typed surface for business logic that needs
  * type safety, and keep scan-adjacent predicates in Column form (as
  * `typed_filter_agg` below does: Column predicates reach the scan,
  * the typed map runs after).
  */
case class RevenueLine(flag: String, status: String, cents: Long)

/** Narrow typed view for the revenue pipeline: only the columns the
  * typed lambda reads. The typed map is opaque to Catalyst, so column
  * pruning must happen BEFORE `.as[T]` — deserializing the full
  * 11-column lineitem row (timestamps included) for a 4-field computation
  * costs ~10× the math itself. */
case class PricedLine(l_returnflag: String, l_linestatus: String,
                      l_extendedprice: Double, l_discount: Double)

object Schemas extends QueryPack {

  /** Typed pipeline: Column predicate first (reaches the scan), then a
    * Column projection down to the 4 columns the lambda reads (the
    * typed map blocks pruning, so pruning precedes it), then a typed
    * map into a domain record, then relational agg on top. */
  def typedFilterAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .where($"l_quantity" > 30.0) // Column form: pushed to parquet
      .select($"l_returnflag", $"l_linestatus",
              $"l_extendedprice", $"l_discount")
      .as[PricedLine]
      .map { li => // typed domain logic: exact cents of discounted price
        RevenueLine(li.l_returnflag, li.l_linestatus,
          math.round(li.l_extendedprice * (1.0 - li.l_discount) * 100))
      }
      .groupBy($"flag", $"status")
      .agg((sum($"cents").cast("double") / 100).as("revenue"),
           count(lit(1)).as("n"))
      .orderBy($"flag", $"status")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "typed_filter_agg" -> (typedFilterAgg _))

  def oracle: Map[String, String] = Map(
    "typed_filter_agg" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS DOUBLE)/100 AS revenue,
        |  count(*) AS n
        |FROM lineitem WHERE l_quantity > 30.0
        |GROUP BY flag, status ORDER BY flag, status""".stripMargin)
}
