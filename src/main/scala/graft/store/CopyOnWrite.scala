package graft.store

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow, Predicate, UnsafeProjection}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.datasources.{GraftParquetReadShim, PartitionedFile}

/** What one copy-on-write task reports: its victims (candidate files
  * holding at least one row the statement changes, as
  * commit-log-relative paths), the commit message of the one file it
  * wrote from their rewritten rows (none when probing only, or when no
  * row survived), and — for a MERGE — the ordinals of the source rows
  * some row of its files matched. */
private[store] final case class RewriteResult(victims: Seq[String], written: WriterCommitMessage,
                                              matched: java.util.BitSet)

/** A MERGE source broadcast to the rewrite tasks: its rows hashed on
  * the ON condition's equi-join keys, each row followed by its ordinal
  * in the source. `probe` and `full` are the target-side keys and the
  * residual condition bound to the probe read's and the full read's
  * rows (each followed by the source row). A target row whose key holds
  * a NULL matches nothing (`<=>` keys arrive rewritten to never-NULL
  * forms); with `oneMatch`, a target row matching a second source row
  * fails the task with [[MergeSource.CardinalityViolation]]. */
private[store] final class MergeSource(
    hash: Broadcast[GraftParquetReadShim.RowHash],
    width: Int,
    val probe: MergeSource.On,
    val full: MergeSource.On,
    oneMatch: Boolean) extends Serializable {

  /** Per task: target row => the target row joined to its one match,
    * or to an all-NULL source row when it has none. Every matched
    * source ordinal is set in `matched`. */
  def matcher(ctx: TaskContext, on: MergeSource.On,
              matched: java.util.BitSet): InternalRow => InternalRow = {
    val rel = hash.value.readOnly
    val key = UnsafeProjection.create(on.keys)
    key.initialize(ctx.partitionId())
    val residual = on.residual.map { e =>
      val p = Predicate.create(e)
      p.initialize(ctx.partitionId())
      p
    }
    val joined = new JoinedRow
    val noMatch = new GenericInternalRow(width)
    t => {
      val k = key(t)
      var first: InternalRow = null
      if (!k.anyNull) {
        val it = rel.get(k)
        while (it != null && it.hasNext) {
          val s = it.next()
          if (residual.forall(_.eval(joined(t, s)))) {
            matched.set(s.getInt(width - 1))
            if (first == null) first = s.copy()
            else if (oneMatch) throw new IllegalArgumentException(MergeSource.CardinalityViolation)
          }
        }
      }
      joined(t, if (first == null) noMatch else first)
    }
  }
}

private[store] object MergeSource {
  final case class On(keys: Seq[Expression], residual: Option[Expression])

  val CardinalityViolation: String =
    "MERGE cardinality violation: a target row matches more than one " +
      "source row; deduplicate the source or tighten the ON condition"
}

/** The task side of GraftTable's copy-on-write DML and MERGE: for each
  * candidate file of the task, in order,
  *  1. probe: read only the columns the probe needs (`probeRead`,
  *     nothing pushed: the reader is shared by every statement of the
  *     table's schema and projection), stop at the first row where
  *     `probeCond` is TRUE and close the read;
  *  2. on a hit, stream the whole file (`fullRead`, nothing pushed)
  *     into the task's one output file, keeping the rows `keep`
  *     accepts and writing them through `project` (either may be
  *     absent: DELETE only keeps, UPDATE only projects, MERGE does
  *     both).
  * A file with no hit is neither rewritten nor reported. With no
  * `writer` the task only probes.
  *
  * With a `source` (MERGE), each target row is first joined to its
  * source match ([[MergeSource.matcher]]) and every expression sees the
  * joined row: `probeCond` is TRUE where a WHEN clause acts on the row.
  * A probe that finds no such row still reads its file to the end, so
  * every source row a target row matches is reported, and a second
  * match fails the task before any file is committed.
  *
  * Expressions arrive bound (to the probe schema for `probeCond`, to
  * the table schema otherwise, each followed by the source row for a
  * MERGE), their literals lifted ([[graft.engine.ParamLiteral.lift]]) so
  * the compiled classes are shared by every statement of one shape;
  * both reads count in the task's input metrics. */
private[store] final class RewriteTask(
    probeRead: GraftParquetReadShim.FileReader,
    fullRead: GraftParquetReadShim.FileReader,
    probeCond: Expression,
    keep: Option[Expression],
    project: Option[Seq[Expression]],
    writer: Option[GraftFileWriterFactory],
    source: Option[MergeSource] = None) extends Serializable {

  def run(ctx: TaskContext, files: Seq[(String, PartitionedFile)]): RewriteResult =
    GraftParquetReadShim.withInputMetrics(ctx) { counted =>
      val matched = new java.util.BitSet
      def joinedBy(on: MergeSource => MergeSource.On): InternalRow => InternalRow =
        source.fold[InternalRow => InternalRow](identity)(s => s.matcher(ctx, on(s), matched))
      val probeRow = joinedBy(_.probe)
      val hit = Predicate.create(probeCond)
      hit.initialize(ctx.partitionId())
      val victims = ArrayBuffer.empty[String]
      val hits = files.iterator.filter { case (rel, f) =>
        val rows = probeRead(f)
        // a hit stops the probe early: release its reader before the
        // next file opens
        val found = try counted(rows).exists(r => hit.eval(probeRow(r))) finally rows.close()
        if (found) victims += rel
        found
      }
      writer match {
        case None =>
          hits.foreach(_ => ())
          RewriteResult(victims.toSeq, GraftFileMessage(None), matched)
        case Some(w) =>
          val fullRow = joinedBy(_.full)
          val kept: Iterator[InternalRow] => Iterator[InternalRow] = keep match {
            case None => identity
            case Some(e) =>
              val p = Predicate.create(e)
              p.initialize(ctx.partitionId())
              _.filter(p.eval)
          }
          val out: Iterator[InternalRow] => Iterator[InternalRow] = project match {
            case None => identity
            case Some(exprs) =>
              val proj = UnsafeProjection.create(exprs)
              proj.initialize(ctx.partitionId())
              _.map(proj)
          }
          val msg = w.runTask(ctx,
            hits.flatMap { case (_, f) => out(kept(counted(fullRead(f)).map(fullRow))) })
          RewriteResult(victims.toSeq, msg, matched)
      }
    }
}
