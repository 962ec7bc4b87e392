package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, udf}

import graft.operators.Graph

/** Keyed checkpoints keep the plan's hash partitioning without touching
  * the session: the materialization runs on a session clone with AQE
  * off, so the shared session reads AQE on throughout, for its own
  * consumers and for queries other threads plan meanwhile. */
class CheckpointsSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import CheckpointsSpec._

  private val aqe = "spark.sql.adaptive.enabled"

  /** Identity on a key column that records, per row, the shared
    * session's AQE setting at the moment the checkpoint materializes. */
  private val observeAqe = udf { (k: Long) =>
    seen.add(SparkTestBase.session.conf.get("spark.sql.adaptive.enabled")); k
  }.asNondeterministic()

  /** Identity on a key column that blocks each task until released. */
  private val blockUntilReleased = udf { (k: Long) =>
    started.countDown()
    release.await(60, TimeUnit.SECONDS)
    k
  }.asNondeterministic()

  private def checkpointLeaves(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr }

  private def assertHashPartitionedOn(df: DataFrame, key: String): Unit = {
    val leaves = checkpointLeaves(df)
    assert(leaves.nonEmpty, "no checkpoint leaf in the plan")
    leaves.foreach(_.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => assert(a.name == key)
      case other => fail(s"checkpoint leaf reads as $other")
    })
  }

  test("a keyed checkpoint keeps HashPartitioning on its key while the session's AQE stays on") {
    import spark.implicits._
    seen.clear()
    assert(spark.conf.get(aqe) == "true")
    val ckpt = Checkpoints.localCheckpointKeepingPartitioning(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("u", "v")
        .select(observeAqe(col("u")).as("u"), col("v"))
        .repartition(col("u")))
    assert(seen.asScala.toSet == Set("true"))
    assert(ckpt.sparkSession eq spark)
    assertHashPartitionedOn(ckpt, "u")
    val byKey = ckpt.groupBy("u").count()
    assert(collect(byKey.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s }.isEmpty)
    assert(byKey.count() == 4)
    assert(spark.conf.get(aqe) == "true")
  }

  test("kCorePeel's round checkpoint keeps HashPartitioning on u while the session's AQE stays on") {
    import spark.implicits._
    seen.clear()
    // GraphSpec's cascade graph: a 2-hop tail peels off a triangle
    val edges = Seq((10L, 11L), (11L, 12L), (10L, 12L), (1L, 2L), (2L, 10L))
      .toDF("a", "b").select(observeAqe(col("a")).as("a"), col("b"))
    val core = Graph.kCorePeel(edges, "a", "b", k = 2, rounds = 2)
    assert(seen.asScala.toSet == Set("true"))
    assertHashPartitionedOn(core, "u")
    assert(core.as[(Long, Long)].collect().toMap == Map(10L -> 2L, 11L -> 2L, 12L -> 2L))
    assert(spark.conf.get(aqe) == "true")
  }

  test("another thread plans adaptively while a keyed checkpoint materializes") {
    started = new CountDownLatch(1)
    release = new CountDownLatch(1)
    val materializing = Future(Checkpoints.localCheckpointKeepingPartitioning(
      spark.range(0, 8).select(blockUntilReleased(col("id")).as("u"))
        .repartition(col("u"))))
    try {
      assert(started.await(60, TimeUnit.SECONDS), "the checkpoint never started")
      val plan = spark.range(100).groupBy((col("id") % 3).as("k")).count()
        .queryExecution.executedPlan
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.treeString)
      assert(spark.conf.get(aqe) == "true")
    } finally release.countDown()
    val ckpt = Await.result(materializing, 2.minutes)
    assertHashPartitionedOn(ckpt, "u")
    assert(ckpt.count() == 8)
  }
}

object CheckpointsSpec {
  val seen = new ConcurrentLinkedQueue[String]()
  @volatile var started = new CountDownLatch(0)
  @volatile var release = new CountDownLatch(0)
}
