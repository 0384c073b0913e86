package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Column-role detection: find the text / index / categorical / value
 * columns of an arbitrary input schema from a bounded sample.
 *
 * Capability parity with the reference's `Detection`
 * (`/root/reference/src/main/scala-2.11/ch/uzh/sentiment/utils/Detection.scala:7-145`)
 * with the documented intended-semantics fixes:
 *  - Q6: `extractStringCategories` guards on STRING columns (the
 *    reference copy-pasted the integer guard and would throw);
 *  - Q7: `convertCategoricalColumn` returns the name of the column it
 *    actually created;
 *  - the reference re-runs `take(limit)` up to 3x per column per
 *    predicate and one aggregate job per string column; we compute every
 *    signal from ONE `take(n)` sample folded on the driver — at 100 TB
 *    the detection pass costs one bounded scan, not O(columns x
 *    predicates) scans, and no shuffle.
 *
 * Threshold constants and tie-break order match the reference exactly
 * (`categoricalSizeLimit=5`, `minimumTextSize=5`, default sample 100;
 * the reference's candidate lists are built by prepending, so "head"
 * means the LAST matching column in schema order — preserved here).
 *
 * Type widening per SURVEY.md D1: Spark-4 inference yields Long where
 * Spark-2.1 CSV gave Int, so "integer" means {byte,short,int,long} and
 * "double" means {float,double,decimal}.
 */
object Detection {

  val categoricalSizeLimit = 5
  val minimumTextSize = 5
  val defaultSampleSize = 100

  def stringColumns(df: DataFrame): List[String] =
    df.schema.fields.collect { case f if f.dataType == StringType => f.name }.toList

  def integerColumns(df: DataFrame): List[String] =
    df.schema.fields.collect {
      case f if Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(f.dataType) => f.name
    }.toList

  def doubleColumns(df: DataFrame): List[String] =
    df.schema.fields.collect {
      case f if f.dataType == FloatType || f.dataType == DoubleType ||
        f.dataType.isInstanceOf[DecimalType] => f.name
    }.toList

  /** Everything the role resolution needs, measured on one sample. */
  case class Signals(
      sampleRows: Long,
      avgWordCount: Map[String, Double],
      distinctCount: Map[String, Long],
      firstValue: Map[String, String])

  /** One `take(n)` job, folded on the driver: per string column the
    * average of `size(split(c, " "))` and the first value, per integer
    * column the distinct non-null count. The sample is the first `n`
    * rows in partition order. The fold keeps the aggregate's
    * semantics: a null cell's size is -1 under Spark's legacy
    * `sizeOfNull` (ANSI off), else null and left out of the average;
    * an average over no sizes is 0.0. */
  def measure(df: DataFrame, limit: Int = defaultSampleSize): Signals = {
    val sCols = stringColumns(df)
    val iCols = integerColumns(df)
    val rows = df.select((sCols ++ iCols).map(col): _*).take(limit)
    val nullSize = df.sparkSession.sessionState.conf.legacySizeOfNull
    val ns = sCols.length
    Signals(
      sampleRows = rows.length.toLong,
      avgWordCount = sCols.zipWithIndex.map { case (c, i) =>
        var sum = 0L
        var n = 0L
        rows.foreach { r =>
          if (!r.isNullAt(i)) {
            sum += r.getString(i).count(_ == ' ') + 1 // split(" ", -1).length
            n += 1
          } else if (nullSize) { sum -= 1; n += 1 }
        }
        c -> (if (n == 0) 0.0 else sum.toDouble / n)
      }.toMap,
      distinctCount = iCols.zipWithIndex.map { case (c, i) =>
        c -> rows.iterator.filterNot(_.isNullAt(ns + i)).map(_.get(ns + i)).toSet.size.toLong
      }.toMap,
      firstValue = sCols.zipWithIndex.map { case (c, i) =>
        c -> String.valueOf(if (rows.isEmpty) null else rows(0).get(i))
      }.toMap)
  }

  private def isNumeric(s: String): Boolean =
    s != null && s.nonEmpty && scala.util.Try(s.trim.toDouble).isSuccess

  /** D2: string column with the max avg word count when > 5. */
  def detectTextColumn(df: DataFrame, limit: Int = defaultSampleSize): Option[String] =
    detectTextColumn(df, measure(df, limit))

  def detectTextColumn(df: DataFrame, sig: Signals): Option[String] = {
    val wcs = sig.avgWordCount
    if (wcs.nonEmpty && wcs.exists(_._2 > minimumTextSize.toDouble))
      Some(wcs.toSeq.sortWith(_._2 > _._2).head._1)
    else None
  }

  /** D3: the single integer column whose sampled values are all distinct. */
  def detectIndexColumn(df: DataFrame, limit: Int = defaultSampleSize): Option[String] =
    detectIndexColumn(df, measure(df, limit))

  def detectIndexColumn(df: DataFrame, sig: Signals): Option[String] = {
    val candidates = integerColumns(df).filter(c =>
      sig.distinctCount.getOrElse(c, -1L) == sig.sampleRows)
    if (candidates.size == 1) Some(candidates.head) else None
  }

  /** D4: categorical preference — single int candidate, else single
    * string candidate, else the string candidate with a numeric first
    * value, else the reference's "head" (= last in schema order). */
  def detectCategoricalColumn(df: DataFrame, limit: Int = defaultSampleSize): Option[String] =
    detectCategoricalColumn(df, measure(df, limit))

  def detectCategoricalColumn(df: DataFrame, sig: Signals): Option[String] = {
    val n = sig.sampleRows
    val intCands = integerColumns(df).filter { c =>
      val nd = sig.distinctCount.getOrElse(c, Long.MaxValue)
      nd < n && nd < categoricalSizeLimit && nd > 1
    }.reverse
    val strCands = stringColumns(df).filter(c =>
      math.round(sig.avgWordCount.getOrElse(c, 0.0)).toInt == 1).reverse
    (intCands, strCands) match {
      case (i :: Nil, _) => Some(i)
      case (_, s :: Nil) => Some(s)
      case (_, s) if s.nonEmpty =>
        val numericFirst = s.filter(c => isNumeric(sig.firstValue.getOrElse(c, "")))
        if (numericFirst.size == 1) Some(numericFirst.head) else Some(s.head)
      case _ => None
    }
  }

  /** D5: exactly one double column, else exactly one string column whose
    * first sampled value parses as a double. */
  def detectValueColumn(df: DataFrame, limit: Int = defaultSampleSize): Option[String] =
    detectValueColumn(df, measure(df, limit))

  def detectValueColumn(df: DataFrame, sig: Signals): Option[String] = {
    val dCols = doubleColumns(df)
    if (dCols.nonEmpty) {
      if (dCols.size == 1) Some(dCols.head) else None
    } else {
      val cvCols = stringColumns(df).filter(c =>
        isNumeric(sig.firstValue.getOrElse(c, "")))
      if (cvCols.size == 1) Some(cvCols.head) else None
    }
  }

  /** D6: distinct values of an integer label column (bounded: <=5). */
  def extractIntegerCategories(df: DataFrame, column: String): Option[Array[Long]] =
    if (integerColumns(df).contains(column))
      Some(df.select(col(column).cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted)
    else None

  /** D7 with the intended guard (Q6 fixed): string columns only. */
  def extractStringCategories(df: DataFrame, column: String): Option[Array[String]] =
    if (stringColumns(df).contains(column))
      Some(df.select(col(column)).distinct()
        .collect().map(_.getString(0)).sorted)
    else None

  /**
   * D8 with Q7 fixed: encode a string categorical column to dense int
   * codes; returns (df, createdColumnName). Codes follow SORTED distinct
   * value order (deterministic; the reference's `distinct.collect`
   * ordering was partition-dependent). The value set is bounded (<=5 for
   * detected categoricals) so the code map travels as a map literal and
   * the encode stays inside codegen — no UDF, no shuffle.
   */
  def convertCategoricalColumn(df: DataFrame, column: String): (DataFrame, String) = {
    if (integerColumns(df).contains(column)) (df, column)
    else {
      val outputColumn = "converted_categorical"
      val values = df.select(col(column)).distinct()
        .collect().map(_.getString(0)).sorted
      val entries = values.zipWithIndex.flatMap {
        case (v, i) => Seq(lit(v), lit(i))
      }
      (df.withColumn(outputColumn, element_at(map(entries.toSeq: _*), col(column))),
        outputColumn)
    }
  }

  /** All roles of a schema, resolved from ONE sampled job. */
  case class ColumnRoles(
      text: Option[String],
      index: Option[String],
      categorical: Option[String],
      value: Option[String],
      avgWordCount: Map[String, Double])

  def resolve(df: DataFrame, limit: Int = defaultSampleSize): ColumnRoles = {
    val sig = measure(df, limit)
    ColumnRoles(
      text = detectTextColumn(df, sig),
      index = detectIndexColumn(df, sig),
      categorical = detectCategoricalColumn(df, sig),
      value = detectValueColumn(df, sig),
      avgWordCount = sig.avgWordCount)
  }
}
