package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The long→wide pivot at the heart of the reference pipeline.
  *
  * Reference semantics (`/root/reference/scripts/shape-data.js`):
  *  - rename long columns to short codes via a dictionary, dropping
  *    unmapped columns (`shape-data.js:33-43`);
  *  - derive a 2-char year suffix from the `year` column
  *    (`shape-data.js:30` — `year.slice(-2)`);
  *  - default a missing `parent_location` to "United States"
  *    (`shape-data.js:44-47`);
  *  - pivot one row per `(id, year)` into one row per id with
  *    `metric-YY` columns; duplicate `(id, year)` rows resolve
  *    last-in-file-wins per cell (`shape-data.js:96-101`);
  *  - emit sorted by GEOID ascending, plain string compare
  *    (`shape-data.js:54-58,105`).
  *
  * Spark-first design notes (100 TB scale):
  *  - the pivot ([[pivotWide]]) is ONE range shuffle on the id and a
  *    Scala fold, so its compiled code does not grow with the metric ×
  *    year column count, and the range exchange is also the
  *    presentation sort; last-wins follows an explicit ordering column,
  *    not Spark's order-nondeterministic `first()`/`last()`.
  *  - the output column set is declared up front (metrics × years), so the
  *    plan's schema is static; the reference's first-row-derived schema
  *    quirk (`shape-data.js:107`) is deliberately NOT replicated
  *    (documented deviation, SURVEY.md §1.4).
  */
object Shape {

  /** P1: dictionary rename; unmapped columns are dropped.
    * `keep` columns pass through unrenamed (e.g. `year`).
    */
  def renameColumns(df: DataFrame, mapping: Seq[(String, String)],
                    keep: Seq[String] = Nil): DataFrame = {
    val present = mapping.filter { case (from, _) => df.columns.contains(from) }
    df.select((keep.map(col) ++ present.map { case (f, t) => col(f).as(t) }): _*)
  }

  /** P9: 4-digit year string -> 2-char suffix (`year.slice(-2)`). */
  def yearSuffix(year: Column): Column = substring(year.cast(StringType), -2, 2)

  /** P6: missing parent_location default (`shape-data.js:44-47`). */
  def defaultParentLocation(pl: Column, default: String): Column =
    coalesce(pl, lit(default))

  /** A1: long→wide pivot. The rows of an id meet on one task sorted by
    * `ordCol` and fold last-wins: the carry columns take the last row's
    * values, each `metric-YY` cell the last value of its year (null if
    * none). Rows with a null `ordCol` are skipped, as `max_by(value,
    * ord)` skips them. Rows come out in ascending id order (O1: binary
    * string order = LC_ALL=C), as the range partitions are id ranges.
    *
    * @param long     input with one row per (id, year)
    * @param idCol    group key (GEOID)
    * @param carry    per-id columns emitted unsuffixed (n, pl)
    * @param yearCol  column holding the 2-char year suffix
    * @param metrics  metric columns to spread into `metric-YY`
    * @param years    explicit year-suffix list (static schema)
    * @param ordCol   ordering column for last-wins (file position in the
    *                 reference; any monotone id here)
    */
  def pivotWide(long: DataFrame, idCol: String, carry: Seq[String],
                yearCol: String, metrics: Seq[String], years: Seq[String],
                ordCol: String): DataFrame = {
    // layout: id, carry..., metrics..., year, ord
    val in = long.select(((idCol +: carry) ++ metrics).map(col) ++
      Seq(col(yearCol).cast(StringType), col(ordCol)): _*)
    val (field, nc, nm, ny) = (in.schema.fields, 1 + carry.size, metrics.size, years.size)
    val (yIdx, oIdx) = (nc + nm, nc + nm + 1)
    val out = StructType(field(0) +: (field.slice(1, nc) ++
      (for (m <- metrics.indices; y <- years) yield field(nc + m).copy(name = s"${metrics(m)}-$y")))
      .map(_.copy(nullable = true)))
    // output slot of (metric m, year y) = nc + m·|years| + (index of y)
    val slots: Map[String, Seq[Int]] = years.zipWithIndex.groupMap(_._1)(_._2)
    in.repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol), col(ordCol))
      .mapPartitions { (rows: Iterator[Row]) =>
        val it = rows.buffered
        new Iterator[Row] {
          def hasNext: Boolean = it.hasNext
          def next(): Row = {
            val cells = new Array[Any](out.size)
            cells(0) = it.head.get(0)
            while (it.hasNext && it.head.get(0) == cells(0)) {
              val r = it.next()
              if (!r.isNullAt(oIdx)) {
                for (c <- 1 until nc) cells(c) = r.get(c)
                if (!r.isNullAt(yIdx))
                  for (y <- slots.getOrElse(r.getString(yIdx), Nil); m <- 0 until nm)
                    cells(nc + m * ny + y) = r.get(nc + m)
              }
            }
            new GenericRow(cells)
          }
        }
      }(Encoders.row(out))
  }

  /** T6/P3: slice a wide table to one decade's column group
    * (`build.sh:177-188,198-209` — csvcut by field list).
    */
  def decadeSlice(wide: DataFrame, fields: Seq[String]): DataFrame =
    wide.select(fields.map(col): _*)
}
