package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

package object streaming {

  /** `df` without the rows whose `idCol` is in `ids`. Every ingest gate
    * applies its decision this way: it collects its drop ids (bounded by
    * batch rows) to the driver, and the frames the sinks and store
    * appends read are the persisted batch, or the gate's own local
    * frame of collected rows, filtered by those sets. No gated frame
    * reads a state store. */
  private[streaming] def without(df: DataFrame, ids: Set[Long],
                                 idCol: String = "doc_id"): DataFrame =
    if (ids.isEmpty) df else df.where(!col(idCol).isInCollection(ids))
}
