package graft.pipeline

import graft.schema.TableSchema

/** The import's row-ID rule, which `Ingest` keeps package-private, for the
  * benchmark's staged replay: the transform schema with `_tidb_rowid`
  * appended when the table needs a synthesized handle, as `Ingest.run`
  * builds it; None when it does not.
  */
object PerfbenchRowid {
  def withRowid(ts: TableSchema, clusteredIndex: Boolean): Option[TableSchema] =
    if (Ingest.rowidRequired(ts, clusteredIndex)) Some(Ingest.withRowid(ts)) else None
}
