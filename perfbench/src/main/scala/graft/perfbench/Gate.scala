package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.GraftTable

/** The correctness gate. It compares what the engine serves with what the
  * generator wrote, using only plain Spark and the generator's own model:
  * no engine code decides what is expected.
  */
object Gate {
  private def sparkType(k: Kind): DataType = k match {
    case Kind.Int32 => IntegerType
    case _ => LongType
  }

  private def canonical(df: DataFrame, spec: Spec): DataFrame =
    df.selectExpr(spec.cols.map(_.canonicalSql): _*)

  /** The cycle's keys read back from `root` with their new values, and
    * deleted keys are gone.
    */
  def batch(spark: SparkSession, root: String, src: Source, b: Batch, label: String): Seq[String] = {
    val spec = src.spec
    val keys = b.upserts ++ b.deletes
    // the leading key column as an IN list lets the scan prune files;
    // the join on the full key keeps the check exact
    val lead = spec.pk.head.name
    val keyDf = spark.createDataFrame(
      java.util.Arrays.asList(keys.map(r => Row.fromSeq(src.pkOf(r))): _*),
      StructType(spec.pk.map(c => StructField(c.name, sparkType(c.kind)))))
    val candidates = GraftTable(spark, root).scan
      .filter(col(lead).isin(keys.map(r => src.pkOf(r).head).distinct: _*))
    val got = canonical(candidates.join(broadcast(keyDf), spec.pkNames), spec)
      .collect().map(_.toSeq).groupBy(_.take(spec.pk.size))
    val wrongValue = b.upserts.iterator.flatMap { r =>
      val want = src.row(r)
      got.get(want.take(spec.pk.size)) match {
        case Some(Array(row)) if row == want => None
        case other => Some(s"$label key ${src.pkOf(r).mkString(",")}: expected $want, got ${other.map(_.toSeq)}")
      }
    }
    val notDeleted = b.deletes.iterator.collect {
      case r if got.contains(src.pkOf(r)) => s"$label key ${src.pkOf(r).mkString(",")} was deleted at the source"
    }
    (wrongValue ++ notDeleted).take(20).toSeq
  }

  /** Row count and an order-free checksum over the canonical columns. */
  private def digest(df: DataFrame, spec: Spec): (Long, BigDecimal) = {
    val r = df.selectExpr(s"xxhash64(${spec.cols.map(_.canonicalSql).mkString(", ")}) as h")
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The table at `root`, audit and identity columns dropped, is
    * multiset-equal to the generator's source snapshot.
    */
  def whole(spark: SparkSession, root: String, src: Source, label: String): Seq[String] = {
    val engine = digest(GraftTable(spark, root).snapshot, src.spec)
    val source = digest(spark.read.parquet(src.dir.toString), src.spec)
    Seq(
      Option.when(source._1 != src.live)(
        s"$label: source files hold ${source._1} rows, the generator wrote ${src.live}"),
      Option.when(engine != source)(
        s"$label: ${engine._1} rows (checksum ${engine._2}) vs source ${source._1} rows (checksum ${source._2})")
    ).flatten
  }
}
