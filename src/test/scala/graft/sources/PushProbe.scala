package graft.sources

import org.apache.spark.sql.connector.read.InputPartition

/** What a push-source partition holds, for specs outside the package. */
object PushProbe {
  /** The ids of the batch broadcasts `parts` read. */
  def broadcastIds(parts: Seq[InputPartition]): Set[Long] =
    parts.map(_.asInstanceOf[Slab[_]].batch.id).toSet
}
