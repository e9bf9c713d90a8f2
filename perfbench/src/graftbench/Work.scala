package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Chain
import graft.ops._

/** One thing the closed-loop client asks graft to do. */
sealed trait Work { def name: String }

/** A registry query, built and then materialized in full. */
final case class Batch(name: String, fn: (SparkSession, String) => DataFrame) extends Work

/** A registry query, built and physically planned but never executed. */
final case class PlanOnly(name: String, fn: (SparkSession, String) => DataFrame) extends Work

/** A seeded chain of SQL-renderable ops over `lineitem`, built, planned and
  * rendered with `sql()` and `toDbt`.
  */
final case class Deep(name: String, depth: Int, opSeed: Long) extends Work

object Work {

  def registry(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries
    names.map(n => n -> all.getOrElse(n,
      throw new IllegalArgumentException(s"query $n is not in SparkEntry.queries")))
  }

  /** Build a deep chain over `lineitem` (`base`): `depth` ops drawn
    * from `opSeed`. Every op has a SQL face; derived columns are tracked so
    * renames and drops always name a column that exists.
    */
  def deepChain(spark: SparkSession, base: DataFrame, depth: Int, opSeed: Long): Chain = {
    val r = new Random(opSeed)
    val derived = ArrayBuffer.empty[String]
    def pick(): String = derived(r.nextInt(derived.size))
    (1 to depth).foldLeft(Chain(spark, "lineitem", base)) {
      (c, i) => r.nextInt(9) match {
        case 0 => c.filterRows(Seq(s"l_quantity >= ${r.nextInt(3)}"))
        case 2 =>
          derived += s"b$i"
          c.ifThen(Seq(s"l_quantity > ${r.nextInt(50)}" -> "'HI'"), "'LO'", s"b$i")
        case 3 =>
          derived += s"c$i"
          c.concatCols(Seq("l_returnflag", "'-'", "l_linestatus"), s"c$i")
        case 4 if derived.nonEmpty =>
          val d = pick()
          derived -= d
          derived += s"r$i"
          c.rename(Seq(d -> s"r$i"))
        case 5 if derived.nonEmpty =>
          val d = pick()
          derived -= d
          c.dropColumns(excludeCols = Seq(d))
        case 6 => c.castCols(Seq("l_linenumber" -> "bigint"))
        case 7 =>
          derived += s"k$i"
          c.rank(Seq("l_extendedprice" -> "DESC", "l_orderkey" -> "ASC"),
            partitionBy = Seq("l_returnflag"), rankType = "dense_rank", alias = s"k$i")
        case _ =>
          derived += s"m$i"
          c.math(Seq(s"l_extendedprice * (1 - l_discount) + $i"), Seq(s"m$i"))
      }
    }
  }
}
