package graft.store

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnsafeProjection}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.datasources.{GraftParquetReadShim, PartitionedFile}

/** What one copy-on-write task reports: its victims (candidate files
  * holding at least one row where the condition is TRUE, as
  * commit-log-relative paths) and the commit message of the one file it
  * wrote from their rewritten rows (none when probing only, or when no
  * row survived). */
private[store] final case class RewriteResult(victims: Seq[String], written: WriterCommitMessage)

/** The task side of GraftTable's copy-on-write DML: for each candidate
  * file of the task, in order,
  *  1. probe: read only the condition's columns (`probeRead`, filters
  *     pushed down), stop at the first row where `probeCond` is TRUE
  *     and close the read;
  *  2. on a hit, stream the whole file (`fullRead`, nothing pushed) into
  *     the task's one output file — DELETE keeps the rows `rewrite`'s
  *     `Left` predicate accepts, UPDATE writes its `Right` projection.
  * A file with no hit is neither rewritten nor reported. With no
  * `writer` the task only probes. Expressions arrive bound to the probe
  * schema (`probeCond`) and to the table schema (`rewrite`); both reads
  * count in the task's input metrics. */
private[store] final class RewriteTask(
    probeRead: PartitionedFile => GraftParquetReadShim.FileRows,
    fullRead: PartitionedFile => GraftParquetReadShim.FileRows,
    probeCond: Expression,
    rewrite: Either[Expression, Seq[Expression]],
    writer: Option[GraftFileWriterFactory]) extends Serializable {

  def run(ctx: TaskContext, files: Seq[(String, PartitionedFile)]): RewriteResult =
    GraftParquetReadShim.withInputMetrics(ctx) { counted =>
      val hit = Predicate.create(probeCond)
      hit.initialize(ctx.partitionId())
      val victims = ArrayBuffer.empty[String]
      val matched = files.iterator.filter { case (rel, f) =>
        val rows = probeRead(f)
        // a hit stops the probe early: release its reader before the
        // next file opens
        val found = try counted(rows).exists(hit.eval) finally rows.close()
        if (found) victims += rel
        found
      }
      writer match {
        case None =>
          matched.foreach(_ => ())
          RewriteResult(victims.toSeq, GraftFileMessage(None))
        case Some(w) =>
          val out: Iterator[InternalRow] => Iterator[InternalRow] = rewrite match {
            case Left(keep) =>
              val p = Predicate.create(keep)
              p.initialize(ctx.partitionId())
              _.filter(p.eval)
            case Right(exprs) =>
              val proj = UnsafeProjection.create(exprs)
              proj.initialize(ctx.partitionId())
              _.map(proj)
          }
          val msg = w.runTask(ctx, matched.flatMap { case (_, f) => out(counted(fullRead(f))) })
          RewriteResult(victims.toSeq, msg)
      }
    }
}
