package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number, sum}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile]] attributes each query's work to the tag it ran under, the
  * way `Bench` runs each rep, and its plan counts agree with the plans.
  */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = Spec.spark
  private val dir = "/root/testdata/sf0.001"
  private lazy val profile = Profile.attach(spark)

  override def beforeAll(): Unit = { super.beforeAll(); profile }
  override def afterAll(): Unit = {
    Profile.detach(spark, profile)
    super.afterAll()
  }

  private def noop(name: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  test("two batch queries and a stream drain each get their own jobs, " +
       "stages, tasks and triggers") {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val counter = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    Profile.tagged(spark, "spec_q1#0")(noop("q1_agg"))
    // untagged work between two tagged queries belongs to neither
    spark.range(0L, 1000L, 1L, 3).selectExpr("sum(id)").collect()
    Profile.tagged(spark, "spec_q3#0")(noop("q3_topk"))
    spark.streams.addListener(counter)
    try Profile.tagged(spark, "spec_stream#0")(noop("events_stream_window"))
    finally {
      Profile.drain(spark)
      spark.streams.removeListener(counter)
    }
    val rows = Seq("spec_q1#0", "spec_q3#0", "spec_stream#0")
      .map(k => k -> profile.stats(k)).toMap
    rows.foreach { case (k, s) =>
      assert(s.jobs > 0 && s.stages > 0 && s.tasks > 0, s"$k: $s")
      assert(s.executions > 0, s"$k: $s")
      assert(s.jobList.size == s.jobs, s"$k: ${s.jobList}")
      assert(s.taskMaxMs >= s.taskMedianMs && s.taskBusyMs >= s.taskMaxMs)
    }
    // the three queries ran one after another, so their job ids are
    // disjoint, ascending blocks with the untagged job outside all three
    val ids = Seq("spec_q1#0", "spec_q3#0", "spec_stream#0")
      .map(k => rows(k).jobList.map(_.id))
    ids.zip(ids.tail).foreach { case (a, b) => assert(a.max < b.min) }
    assert(ids(1).min - ids(0).max >= 2,
      "the untagged job between the batch queries was attributed")
    assert(rows("spec_q1#0").triggers.isEmpty)
    assert(rows("spec_q3#0").triggers.isEmpty)
    val stream = rows("spec_stream#0")
    assert(stream.triggers.nonEmpty)
    assert(stream.triggers.size == progress.size,
      s"${stream.triggers.size} triggers, ${progress.size} progress events")
    assert(stream.triggers.map(_.addBatchMs).sum > 0)
    // the drain's memory sink is copied out by one localCheckpoint
    assert(stream.barriers >= 1)
    assert(profile.stats("never_ran").jobs == 0)
  }

  test("exchanges equal the Exchange nodes of the executed plan") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val df = docs.groupBy("lang").count()
      .join(docs.groupBy("source", "lang").agg(sum("n_chars").as("c")), "lang")
      .orderBy(col("c").desc)
    Profile.tagged(spark, "spec_exchanges#0")(df.collect())
    Profile.drain(spark)
    val direct = collect(df.queryExecution.executedPlan) { case e: Exchange => e }
    val s = profile.stats("spec_exchanges#0")
    assert(direct.nonEmpty)
    assert(s.exchanges == direct.size, s"profile ${s.exchanges}, plan ${direct.size}")
    // the static plan shuffles both aggregates and the sort, whatever
    // adaptive execution then turns into a broadcast
    assert(s.plannedExchanges >= 3 && s.scans >= 1, s.toString)
    assert(s.planningMs >= 0 && s.executions >= 1)
    // the noop write Bench times plans the same query under a command
    Profile.tagged(spark, "spec_noop#0") {
      df.write.format("noop").mode("overwrite").save()
    }
    Profile.drain(spark)
    val w = profile.stats("spec_noop#0")
    assert(w.exchanges == direct.size && w.scans == s.scans &&
      w.plannedExchanges == s.plannedExchanges, s"noop write: $w")
  }

  test("a window with no partitionBy is counted as unpartitioned") {
    val ids = spark.range(0L, 100L, 1L, 4)
    Profile.tagged(spark, "spec_bare#0") {
      ids.withColumn("rn", row_number().over(Window.orderBy("id"))).collect()
    }
    Profile.tagged(spark, "spec_keyed#0") {
      ids.withColumn("rn", row_number().over(
        Window.partitionBy(col("id") % 3).orderBy("id"))).collect()
    }
    Profile.tagged(spark, "spec_barrier#0") {
      graft.operators.Barriers.materialize(ids.selectExpr("id * 2 AS x"),
        eager = true)
    }
    Profile.drain(spark)
    assert(profile.stats("spec_bare#0").bareWindows == 1)
    assert(profile.stats("spec_keyed#0").bareWindows == 0)
    assert(profile.stats("spec_barrier#0").barriers == 1)
    assert(profile.stats("spec_barrier#0").jobList.map(_.site)
      .exists(_.contains("ProfileSpec.scala")))
  }
}
