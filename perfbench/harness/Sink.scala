package perfbench

import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The benchmark's action: consume every row of an already-planned query,
  * the work of a `noop`-format write without planning the query a second
  * time. Every output column is materialized (unlike `count()`, which lets
  * the optimizer prune them). Each task also sums a 64-bit hash of its
  * rows' bytes, which gives the caller an order-insensitive digest without
  * another job; comparing it happens after the clock stops. */
object Sink {
  final case class Out(rows: Long, digest: Long)

  def run(qe: QueryExecution): Out =
    SQLExecution.withNewExecutionId(qe, Some("perfbench sink")) {
      val schema = qe.executedPlan.schema
      val parts = qe.executedPlan.execute().mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = r match {
            case u: UnsafeRow => u
            case o => proj(o)
          }
          val a = Murmur3_x86_32.hashUnsafeWords(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
          val b = Murmur3_x86_32.hashUnsafeWords(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7)
          n += 1
          h += (a.toLong << 32) ^ (b & 0xffffffffL)
        }
        Iterator((n, h))
      }.collect()
      Out(parts.map(_._1).sum, parts.map(_._2).sum)
    }
}
