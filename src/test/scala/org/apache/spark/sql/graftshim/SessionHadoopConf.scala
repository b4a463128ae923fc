package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Test bridge to the `private[sql]` session state: the Hadoop conf Spark
  * builds for a session's reads and writes. */
object SessionHadoopConf {
  def apply(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
}
