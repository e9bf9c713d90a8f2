package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** All-column, order-independent output fingerprint: the row count and the
  * DECIMAL sum of a 64-bit hash over every column (a DECIMAL(38,0) sum of
  * longs cannot overflow under ANSI mode). It rides the timed action as an
  * observed metric, so it costs no extra pass and forces every column to be
  * computed. Columns are renamed positionally first, so duplicate output
  * names stay addressable; maps are hashed as sorted entry arrays.
  */
object Fingerprint {
  val Name = "graftbench_fp"

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case other if hasMap(other) => to_json(c)
    case _ => c
  }

  def attach(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val renamed = df.toDF(fields.indices.map(i => s"_fp$i"): _*)
    val cols = fields.indices.map(i => canonical(col(s"_fp$i"), fields(i).dataType))
    renamed.observe(Name, count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(BigDecimal(0)))
        .cast(DecimalType(38, 0)).as("hash"))
  }

  /** (rows, hash) after the observed frame's plan has run. */
  def read(observed: DataFrame): (Long, String) = {
    val row = observed.queryExecution.observedMetrics.getOrElse(Name,
      throw new IllegalStateException("fingerprint metrics were not collected"))
    (row.getLong(0), row.getDecimal(1).toPlainString)
  }
}
