package graftbench

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a DataFrame's full output.
  *
  * The digest runs the DataFrame's own executed plan (`toRdd`) and hashes
  * every output column of every row, so final sorts, projections and UDFs
  * all execute — `count()` would let Catalyst prune them. Row hashes are
  * summed in two 32-bit halves, so the digest ignores row order but counts
  * duplicates. Floating-point values are rounded to float precision first:
  * partial sums combined in shuffle-arrival order differ in the last bits
  * of a double from run to run. */
object Digest {
  final case class D(rows: Long, lo: Long, hi: Long) {
    def +(o: D): D = D(rows + o.rows, lo + o.lo, hi + o.hi)
    override def toString: String = f"$rows%d:${lo * 0x9E3779B97F4A7C15L ^ hi}%016x"
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType => true
    case ArrayType(e, _) => hasFloat(e)
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => c.cast(FloatType) + lit(0.0f) // folds -0.0 into 0.0
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => norm(x, e))
    case s: StructType if hasFloat(s) =>
      struct(s.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) => // maps are not hashable; hash their sorted entries
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  /** The row-hash expression over `df`'s output, bound by position. */
  private def rowHash(df: DataFrame): Expression = {
    val out = df.queryExecution.analyzed.output
    val cols = out.map(a => norm(GraftExpressionBridge.column(a), a.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val e = df.select(h.as("h")).queryExecution.analyzed match {
      case Project(Seq(a: Alias), _) => a.child
      case p => throw new IllegalStateException(s"unexpected digest plan: $p")
    }
    e.transform { case a: AttributeReference if out.exists(_.exprId == a.exprId) =>
      BoundReference(out.indexWhere(_.exprId == a.exprId), a.dataType, nullable = true)
    }
  }

  /** Runs `df`'s executed plan and digests its rows. */
  def of(df: DataFrame): D = {
    val bound = rowHash(df)
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(Seq(bound))
      var n, lo, hi = 0L
      rows.foreach { r =>
        val h = proj(r).getLong(0)
        n += 1; lo += h & 0xffffffffL; hi += h >>> 32
      }
      Iterator(D(n, lo, hi))
    }.collect().foldLeft(D(0, 0, 0))(_ + _)
  }
}
