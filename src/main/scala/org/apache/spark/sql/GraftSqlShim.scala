package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{AtomicType, DataType, StructType}

/** Package-placed accessors for what the engine needs from behind
  * `private[sql]`. First, building a DataFrame from an RDD[InternalRow] WITHOUT
  * the external-Row round trip. `Dataset.rdd` deserializes every
  * UnsafeRow to a GenericRow (decoding UTF8String token columns to
  * java.lang.String) and `createDataFrame(RDD[Row])` re-encodes them —
  * pure conversion overhead in both of [[graft.operators.SuffixArray]]
  * denseRankOver's corpus-sized passes (guide §5: serialization in the
  * hot path). Second, the `AtomicType` test denseRankOver guards its
  * key columns with. The shim only forwards; no behavior is added.
  */
object GraftSqlShim {
  def internalDf(spark: SparkSession, rdd: RDD[InternalRow],
                 schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  def isAtomic(t: DataType): Boolean = t.isInstanceOf[AtomicType]
}
