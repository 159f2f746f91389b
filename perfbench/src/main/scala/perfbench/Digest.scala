package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: the row count plus the
  * wrapping sum and the xor of two 64-bit hashes of each row's UnsafeRow
  * bytes. Both combiners commute, so the digest does not depend on row
  * order or on how rows are split into partitions.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def combine(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
  override def toString: String = f"$rows:$sum%016x:$xor%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L, 0L)

  def ofRows(rows: Iterator[InternalRow], schema: StructType): Digest = {
    val proj = UnsafeProjection.create(schema)
    var n = 0L
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val u = proj(r)
      val base = u.getBaseObject
      val off = u.getBaseOffset
      val len = u.getSizeInBytes
      sum += XXH64.hashUnsafeBytes(base, off, len, 42L)
      xor ^= XXH64.hashUnsafeBytes(base, off, len, 7L)
      n += 1
    }
    Digest(n, sum, xor)
  }

  /** Runs `qe`'s own physical plan to completion and digests every row it
    * returns. Going through `toRdd` executes exactly the plan that was
    * planned and timed; an action such as `count()` would build a new plan
    * in which Catalyst prunes the output columns and the work behind them.
    */
  def consume(qe: QueryExecution): Digest = {
    val schema = qe.executedPlan.schema
    qe.toRdd
      .mapPartitions(it => Iterator.single(ofRows(it, schema)))
      .collect()
      .foldLeft(empty)(_ combine _)
  }
}
