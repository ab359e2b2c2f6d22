package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Generic table browse/search/sort/page service (SURVEY §2.2 P2–P3,
  * P6/P9, §2.6 T9–T10; `Website/market/dunnhumby/views.py:1233-1350`).
  *
  * The reference backs every data-table page with one parameterized
  * endpoint: pick a column set, apply gte/lte range filters from a
  * filter-mapping, OR-combine case-insensitive substring searches over the
  * table's searchable fields (with a numeric-equality fallback), then
  * count + order + slice for pagination. All of that is declarative here,
  * so Catalyst pushes the filters and prunes the columns down to the
  * parquet scan — at 100 TB the page read touches only the filtered row
  * groups, never the full table. Pagination via sort+offset+limit is a
  * global sort, which is exactly what the reference's `ORDER BY ... OFFSET`
  * does; for deep pagination at scale use keyset pagination (filter
  * `key > lastSeen`, then limit) which keeps the sort but turns the
  * offset into a pushable predicate.
  */
object TableService {

  /** P2 — gte/lte range predicates from a filter mapping
    * (`views.py:1288-1316`). `ranges` maps column → (minInclusive,
    * maxInclusive), either side optional. */
  def rangeFilter(df: DataFrame,
                  ranges: Map[String, (Option[Any], Option[Any])]): DataFrame =
    ranges.foldLeft(df) { case (d, (c, (lo, hi))) =>
      val withLo = lo.map(v => d.where(col(c) >= lit(v))).getOrElse(d)
      hi.map(v => withLo.where(col(c) <= lit(v))).getOrElse(withLo)
    }

  /** P3 — case-insensitive substring search OR-combined across the
    * table's searchable fields, with numeric-equality fallback when the
    * term parses as a number (`views.py:1247-1284`). */
  def search(df: DataFrame, term: String, textFields: Seq[String],
             numericFields: Seq[String] = Nil): DataFrame = {
    val t = term.toLowerCase
    val textPreds = textFields.map(f => lower(col(f)).contains(t))
    val numPreds = scala.util.Try(term.trim.toDouble).toOption.toSeq
      .flatMap(v => numericFields.map(f => col(f) === lit(v)))
    val all = textPreds ++ numPreds
    if (all.isEmpty) df else df.where(all.reduce(_ || _))
  }

  /** T9/T10 — multi-key ordered page: ORDER BY keys, OFFSET, LIMIT
    * (`views.py:1318-1350`; page sizes 20/50). The sort keys must form a
    * total order for deterministic pages. */
  def page(df: DataFrame, order: Seq[Column], pageSize: Int,
           pageNum: Int): DataFrame =
    df.orderBy(order: _*).offset(pageSize * pageNum).limit(pageSize)

  /** P6/P9 — cleaning pass: clamp negative money to 0 (`admin.py:372-380`)
    * and drop rows with null required keys. */
  def clean(df: DataFrame, moneyCols: Seq[String],
            requiredCols: Seq[String]): DataFrame = {
    val clamped = moneyCols.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c) < 0, lit(0.0).cast(d.schema(c).dataType))
        .otherwise(col(c))))
    requiredCols.foldLeft(clamped)((d, c) => d.where(col(c).isNotNull))
  }
}
