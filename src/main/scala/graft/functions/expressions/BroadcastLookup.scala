package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** `child`'s value in a broadcast driver-built map of Catalyst values,
  * NULL when absent: a map-side lookup against a bounded key set. Unlike
  * a join with a driver-built frame, it runs no broadcast job in the
  * queries that read it. */
private[graft] case class BroadcastLookup(child: Expression, bc: Broadcast[java.util.HashMap[Any, Any]], dataType: DataType)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val table = bc.value

  override def nullable: Boolean = true
  override def prettyName: String = "graft_broadcast_lookup"

  override protected def nullSafeEval(input: Any): Any = table.get(input)

  override protected def withNewChildInternal(newChild: Expression): BroadcastLookup =
    copy(child = newChild)
}

private[graft] object BroadcastLookup {
  /** `key`'s value in `table` (Catalyst keys and values of `dataType`),
    * shipped once as a broadcast. */
  def column(spark: SparkSession, key: Column, table: java.util.HashMap[Any, Any], dataType: DataType): Column =
    ColumnBridge.column(BroadcastLookup(
      ColumnBridge.expression(key), spark.sparkContext.broadcast(table), dataType))
}

/** The rows of a broadcast [[BandTable]] that share a band key with
  * `child` (an array<struct<band int, bh long>>): each row at most once,
  * in table order; an empty array when no key hits. A map-side LSH probe
  * against a bounded driver-held side: no join, so no broadcast job, and
  * no per-band copy of the probing row. */
private[graft] case class BroadcastBandProbe(child: Expression, bc: Broadcast[BandTable], dataType: DataType)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val table = bc.value

  override def nullable: Boolean = true
  override def prettyName: String = "graft_broadcast_band_probe"

  override protected def nullSafeEval(input: Any): Any = {
    val keys = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val hit = new java.util.BitSet(table.rows.length)
    var i = 0
    while (i < keys.numElements()) {
      // a null key (a null vector's band hash) hits nothing, as in a join
      val k = if (keys.isNullAt(i)) null else keys.getStruct(i, 2)
      val e = if (k == null || k.isNullAt(1)) null else table.byBh.get(k.getLong(1))
      if (e != null) {
        var j = 0
        while (j < e.length) { if (e(j)._1 == k.getInt(0)) hit.set(e(j)._2); j += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(hit.stream().toArray.map(r => table.rows(r): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): BroadcastBandProbe =
    copy(child = newChild)
}

/** Band keys of a bounded row set: bh → (band, row index) entries, and
  * the rows as Catalyst values. */
private[graft] final class BandTable(
    val byBh: java.util.HashMap[Long, Array[(Int, Int)]],
    val rows: Array[org.apache.spark.sql.catalyst.InternalRow]) extends Serializable

private[graft] object BroadcastBandProbe {
  /** [[BroadcastBandProbe]] of `keys` against `rows` (of `rowType`) keyed
    * by `rowKeys`, the table shipped once as a broadcast. */
  def column(spark: SparkSession, keys: Column, rows: Seq[org.apache.spark.sql.Row],
      rowKeys: Seq[Seq[(Int, Long)]], rowType: org.apache.spark.sql.types.StructType): Column = {
    val byBh = new java.util.HashMap[Long, Array[(Int, Int)]]()
    rowKeys.zipWithIndex.flatMap { case (ks, r) => ks.map { case (band, bh) => bh -> (band, r) } }
      .groupBy(_._1).foreach { case (bh, es) => byBh.put(bh, es.map(_._2).toArray) }
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(rowType)
    val table = new BandTable(byBh, rows.map(r => toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]).toArray)
    ColumnBridge.column(BroadcastBandProbe(ColumnBridge.expression(keys), spark.sparkContext.broadcast(table),
      org.apache.spark.sql.types.ArrayType(rowType)))
  }
}
