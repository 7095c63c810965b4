package graft.parity

import graft.model.SetOp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set operations over materialized segments — the heart of the platform
  * (reference: backend/app/processor/segment_operations.py:13-53).
  *
  * Two variants (SURVEY Q1):
  *  - **row-faithful** — `intersect` / `except` / full-row `dropDuplicates`,
  *    bug-compatible with the reference: parents computed under different
  *    filters give a user different aggregates, so INTERSECTION is usually
  *    empty (the shipped rule 4 has 0 rows).
  *  - **keyed** — the intended audience semantics: membership decided by
  *    `user_id` via semi/anti joins; the surviving row carries the first
  *    parent's aggregates. Keyed ops plan as hash joins that AQE can
  *    broadcast when a parent is small — far cheaper than full-row
  *    `intersect` (which shuffles all columns) at scale.
  *
  * Dispatch is case-insensitive (SURVEY Q4, reference
  * segment_operations.py:30), a single parent passes through unchanged
  * (`:26-27`), and an empty parent list is an error (`:50`).
  */
object SegmentOps {

  def combine(op: String, parents: Seq[DataFrame], keyed: Boolean): DataFrame = {
    val parsed = SetOp.parse(op).getOrElse(
      throw new IllegalArgumentException(s"Unsupported operation: $op"))
    combine(parsed, parents, keyed)
  }

  def combine(op: SetOp, parents: Seq[DataFrame], keyed: Boolean = true): DataFrame = {
    require(parents.nonEmpty, "No segments provided")
    if (parents.size == 1) parents.head
    else if (keyed) keyedCombine(op, parents)
    else rowFaithfulCombine(op, parents)
  }

  // ---- row-faithful (bug-compatible) ---------------------------------------

  private def rowFaithfulCombine(op: SetOp, parents: Seq[DataFrame]): DataFrame = op match {
    case SetOp.Union =>
      // unionAll + dropDuplicates, reference segment_operations.py:31-33
      parents.reduce(_.unionByName(_)).dropDuplicates()
    case SetOp.Intersection =>
      // left fold of intersect, reference :35-40
      parents.reduce(_.intersect(_))
    case SetOp.Difference =>
      // left fold of subtract (EXCEPT DISTINCT), reference :42-47
      parents.reduce(_.except(_))
  }

  // ---- keyed (intended semantics) ------------------------------------------

  private def keyedCombine(op: SetOp, parents: Seq[DataFrame]): DataFrame = op match {
    case SetOp.Union =>
      // Distinct users; ties resolved deterministically by parent position
      // (first parent that contains the user supplies the row).
      val tagged = parents.zipWithIndex.map { case (df, i) =>
        df.withColumn("__parent_idx", lit(i))
      }
      val w = Window.partitionBy(col("user_id")).orderBy(col("__parent_idx"))
      tagged.reduce(_.unionByName(_))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "__parent_idx")
    case SetOp.Intersection =>
      // Successive LEFT SEMI joins on user_id: only key columns shuffle for
      // the probe sides; aggregates come from the first parent.
      parents.tail.foldLeft(parents.head) { (acc, p) =>
        acc.join(p.select("user_id"), Seq("user_id"), "left_semi")
      }
    case SetOp.Difference =>
      parents.tail.foldLeft(parents.head) { (acc, p) =>
        acc.join(p.select("user_id"), Seq("user_id"), "left_anti")
      }
  }
}
