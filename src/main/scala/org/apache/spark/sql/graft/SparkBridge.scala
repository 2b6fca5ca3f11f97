package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.types.StructType

/** The engine's other crossings into `private[spark]` API, beside
  * [[ColumnBridge]]'s Column and plan bridge.
  */
object SparkBridge {

  /** Block until every listener has seen every event posted so far
    * (job, task and SQL execution events are delivered asynchronously);
    * throws a `TimeoutException` after Spark's default 10 s.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `schema` with every field, nested ones too, nullable: what a file
    * source reports for the schema it reads.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
