package org.apache.spark.sql.execution

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.joins.{EmptyHashedRelation, HashedRelation}
import org.apache.spark.sql.types.DataType

/** The `private[execution]` door [[graft.plans.ProbeBucketPruning]]
  * needs: the distinct keys a materialized one-key hashed broadcast
  * holds (`HashedRelation` is `private[execution]`), each stored as `t`. */
object GraftHashedKeys {
  def apply(relation: Any, t: DataType): Option[Seq[Any]] = relation match {
    case EmptyHashedRelation => Some(Nil)
    case h: HashedRelation => Some(h.keys().map(r => InternalRow.copyValue(r.get(0, t))).toSeq)
    case _ => None
  }
}
