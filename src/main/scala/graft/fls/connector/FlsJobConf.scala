package graft.fls.connector

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The Hadoop configuration of one fls job, shipped to its tasks as ONE
  * broadcast. Every reader factory, writer factory and task closure of
  * the connector carries this handle, never a [[SerializableConfiguration]]
  * of its own: a session conf holds ~1,100 properties (~110 KB Java-
  * serialized), and `Configuration.readFields` opens a gzip stream per
  * property, so a task decoding its own copy paid tens of milliseconds
  * of deserialization — more than the decode of a small row group. A
  * broadcast is decoded once per executor (in local mode, not at all:
  * tasks see the driver's object), the way Spark's built-in file sources
  * ship theirs. Mirrors the reference building its scan state once in
  * `InitializeGlobalState` (`fls_reader.cpp:497-514`) for every worker.
  *
  * Concurrent tasks of an executor share the one broadcast
  * `Configuration` instance: code must read it and NEVER mutate it
  * (`set*`, `addResource`, ...). A task that needs a different setting
  * copies it first (`new Configuration(conf)`). */
object FlsJobConf {
  def apply(session: SparkSession, conf: Configuration): Broadcast[SerializableConfiguration] =
    session.sparkContext.broadcast(new SerializableConfiguration(conf))
}
