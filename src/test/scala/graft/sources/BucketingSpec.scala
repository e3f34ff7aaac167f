package graft.sources

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("bucketed-bucketed equi-join plans without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1L to 1000L).map(i => (i % 97, s"f$i")).toDF("k", "a")
      val dims = (1L to 500L).map(i => (i % 97, s"d$i")).toDF("k", "b")
      Bucketing.writeBucketed(facts, "graft_bucketed_facts", "k", 8)
      Bucketing.writeBucketed(dims, "graft_bucketed_dims", "k", 8)
      val joined = spark.table("graft_bucketed_facts")
        .join(spark.table("graft_bucketed_dims"), "k")
      assert(joined.count() > 0)
      assert(Bucketing.isShuffleFree(joined),
        joined.queryExecution.executedPlan.toString.take(2000))
      // same data joined from plain (non-bucketed) frames DOES shuffle
      val plain = facts.join(dims, "k")
      assert(!Bucketing.isShuffleFree(plain))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_dims")
    }
  }
}
