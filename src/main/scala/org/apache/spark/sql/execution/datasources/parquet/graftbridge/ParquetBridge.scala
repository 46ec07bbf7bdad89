package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import java.time.ZoneId
import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  ParquetRecordMaterializer, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Spark's parquet row materializer is `private[parquet]`. This is the
  * record-to-row converter `ParquetReadSupport.prepareForRead` builds
  * for Spark's non-vectorized read, from the same arguments, for
  * `LiveStore`'s lookup, which builds the requested schema and the
  * schema converter once instead of once per file. Same shim pattern as
  * `sql.graftbridge.ColumnBridge`. */
object ParquetBridge {
  def materializer(requested: MessageType, catalyst: StructType,
      converter: ParquetToSparkSchemaConverter, convertTz: Option[ZoneId],
      datetimeRebase: RebaseSpec, int96Rebase: RebaseSpec): RecordMaterializer[InternalRow] =
    new ParquetRecordMaterializer(requested, ParquetReadSupport.expandUDT(catalyst), converter,
      convertTz, datetimeRebase, int96Rebase)
}
