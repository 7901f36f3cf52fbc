package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The gate of the driver-fold tiers, written once.
  *
  * A gated statistic reduces its input to a small table first — the
  * (group, value, count) cell table in [[Quality]], a value histogram or a
  * prefix-sum spine in [[GlobalRank]] — and then chooses its tier from the
  * size of that table at run time:
  *
  *  - **Probe.** `head(limit + 1)`: more than `limit` rows (or
  *    `limit <= 0`, which takes none) means the distributed tier; otherwise
  *    the collected rows feed a driver fold.
  *  - **Limit.** [[Limit]] = 2¹⁸ rows, one driver page of compact cells,
  *    is every gate's default. The `localSpineLimit`/`localHistLimit`
  *    parameters stay so that a caller (the tier-parity specs) can force
  *    the distributed tier with 0.
  *  - **Lifecycle** ([[fold]]). The cell table is persisted before the
  *    probe, because the distributed tier reads it several times; it is
  *    unpersisted only when the driver fold answers. A fold that defers —
  *    ANSI degenerates the distributed chain would throw on, group-key
  *    types without a replicated sort order, and empty input where the
  *    statistic defers — leaves it persisted for the distributed tier.
  *  - **Relation.** A [[Quality]] tier's answer is a one-partition RDD
  *    scan of the fold's rows ([[fold]]); [[GlobalRank]]'s tiers build a
  *    `LocalRelation` from theirs, which the optimizer may fold further.
  *  - **Parity.** Each driver fold replicates its distributed chain
  *    operation for operation: exact integer masses as BigInt where the
  *    chain sums DECIMAL(38,0), the same double association order, and
  *    the same floor→Long rounding ([[r4]]), so both tiers give the same
  *    bits and a gate moves only the plan.
  */
private[graft] object BoundedCells {

  /** The default gate: 2¹⁸ rows. */
  val Limit: Long = 1L << 18

  /** The collected rows of `df`, or None past `limit` (none is taken
    * when `limit <= 0`). */
  def probe(df: DataFrame, limit: Long): Option[Array[Row]] =
    if (limit <= 0) None
    else {
      val rows = df.head(limit.toInt + 1)
      if (rows.length > limit) None else Some(rows)
    }

  /** (_g, _v): the rows where both columns are present, the value cast to
    * `valueType` (`double`, or `long` for integral measures). */
  def groupValues(df: DataFrame, valueCol: Column, groupCol: Column,
      valueType: String): DataFrame =
    df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .select(groupCol.as("_g"), valueCol.cast(valueType).as("_v"))

  /** (_g, _v, _c): the cell table of [[groupValues]]. */
  def cellTable(df: DataFrame, valueCol: Column, groupCol: Column,
      valueType: String): DataFrame =
    groupValues(df, valueCol, groupCol, valueType)
      .groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c"))

  /** The lifecycle around a driver fold: persists `cells`, probes it, and
    * when `f` answers, unpersists `cells` and returns the answer's rows
    * under `schema` as a one-partition frame. None leaves `cells`
    * persisted for the distributed tier. */
  def fold(cells: DataFrame, limit: Long, schema: StructType)(
      f: Array[Row] => Option[Seq[Row]]): Option[DataFrame] = {
    cells.persist()
    probe(cells, limit).flatMap(f).map { rows =>
      cells.unpersist()
      val spark = cells.sparkSession
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
  }

  /** Display rounding to 4 decimals, floor(x·10⁴ + 0.5)/10⁴: the same IEEE
    * chain on every engine, where `round` would round the shortest decimal
    * representation half-up. */
  def r4(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000

  /** [[r4]] on the driver, through Spark's Floor(Double)→Long (NaN → 0,
    * ±∞ saturate). */
  def r4(x: Double): Double = math.floor(x * 10000 + 0.5).toLong.toDouble / 10000

  /** The sorted pooled value spine of a collected (_g, _v, _c) cell table:
    * the driver mirror of the per-value roll-up and its
    * `weightedPrefixSums` cumulative. Build one with [[CellSpine.doubles]]
    * or [[CellSpine.longs]]; long values stay longs. */
  final class CellSpine[V] private[BoundedCells] (
      cells: Array[Row], val values: Array[V], indexOf: Row => Int) {
    /** pooled count per value index. */
    val cv: Array[Long] = {
      val out = new Array[Long](values.length)
      cells.foreach(r => out(indexOf(r)) += r.getLong(2))
      out
    }
    /** inclusive cumulative count per value index. */
    val cumAll: Array[Long] = {
      val out = cv.clone()
      var i = 1
      while (i < out.length) { out(i) += out(i - 1); i += 1 }
      out
    }
    val n: Long = cells.map(_.getLong(2)).sum
    /** doubled midrank per value index: 2·exclusive-prefix + count + 1. */
    def m2(i: Int): Long = 2L * (cumAll(i) - cv(i)) + cv(i) + 1L
    /** smallest value whose inclusive cumulative covers half the pool. */
    def medianV: V = {
      var i = 0
      while (cumAll(i) * 2 < n) i += 1
      values(i)
    }
    /** group -> its count and its (value index, count) points,
      * index-ascending. */
    def groupPoints: Seq[(Any, Long, Array[(Int, Long)])] =
      cells.groupBy(_.get(0)).toSeq.map { case (g, own) =>
        val pts = own.map(r => (indexOf(r), r.getLong(2))).sortBy(_._1)
        (g, own.map(_.getLong(2)).sum, pts)
      }
  }

  object CellSpine {
    def doubles(cells: Array[Row]): CellSpine[Double] = {
      val values = cells.map(_.getDouble(1)).distinct.sorted
      new CellSpine(cells, values,
        r => java.util.Arrays.binarySearch(values, r.getDouble(1)))
    }

    def longs(cells: Array[Row]): CellSpine[Long] = {
      val values = cells.map(_.getLong(1)).distinct.sorted
      new CellSpine(cells, values,
        r => java.util.Arrays.binarySearch(values, r.getLong(1)))
    }
  }
}
