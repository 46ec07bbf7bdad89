package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.streaming.{Ev, LiveStore}

/** graft runs every setting of its own on a child session, so ops may
  * share their caller's session across threads: a batch op run over
  * and over beside two stream ops returns what each returns alone, and
  * the caller's conf, sampled from a third thread the whole time,
  * never changes. */
class ConcurrentSessionSpec extends SparkSpec {

  private val sampledKeys = Seq(
    "spark.sql.shuffle.partitions", "fs.file.impl", "spark.sql.artifact.isolation.enabled")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def thread(body: => Unit, failures: ConcurrentLinkedQueue[Throwable]): Thread = {
    val t = new Thread(() => try body catch { case e: Throwable => failures.add(e); () })
    t.start()
    t
  }

  test("a batch op beside two stream ops in one session: same results, caller's conf untouched") {
    val batchOp = "q5_multijoin"
    val streamOps = Seq("stream_fold", "es_live_store")
    val alone = (batchOp +: streamOps).map(op => op -> rows(run(op))).toMap
    val before = sampledKeys.map(spark.conf.getOption)

    val failures = new ConcurrentLinkedQueue[Throwable]()
    val mismatches = new ConcurrentLinkedQueue[String]()
    val seen = new ConcurrentLinkedQueue[Seq[Option[String]]]()
    val streamsDone = new AtomicBoolean(false)
    var batchRuns = 0
    val sampler = thread({
      while (!streamsDone.get()) {
        val now = sampledKeys.map(spark.conf.getOption)
        if (now != before) seen.add(now)
        Thread.sleep(1)
      }
    }, failures)
    val batch = thread({
      while (batchRuns == 0 || !streamsDone.get()) {
        if (rows(run(batchOp)) != alone(batchOp)) mismatches.add(batchOp)
        batchRuns += 1
      }
    }, failures)
    val streams = thread({
      try streamOps.foreach(op => if (rows(run(op)) != alone(op)) mismatches.add(op))
      finally streamsDone.set(true)
    }, failures)
    Seq(streams, batch, sampler).foreach(_.join())

    assert(failures.isEmpty, failures.asScala.map(_.toString).mkString("; "))
    assert(batchRuns > 0)
    assert(mismatches.isEmpty, s"results differ from a single-thread run: $mismatches")
    val changed = seen.asScala.toSeq.distinct
      .map(v => sampledKeys.zip(v).filter { case (k, x) => before(sampledKeys.indexOf(k)) != x })
    assert(changed.isEmpty, s"the caller's conf changed from $before: $changed")
  }

  test("rollup and cube leave the caller's ambiguous-self-join check on") {
    val key = "spark.sql.analyzer.failAmbiguousSelfJoin"
    for (op <- Seq("rollup", "cube")) withConf(key -> "true") {
      assert(run(op).count() > 0, op)
      assert(spark.conf.get(key) == "true", op)
    }
  }

  test("a stream's child session leaves no listener on the context's bus") {
    import org.apache.spark.graftbridge.ListenerBridge
    val sc = spark.sparkContext
    // es_live_store's stream is stateless: a stateful query's own
    // session clone puts a stream listener bus of its own on the
    // context's bus, which Spark never takes off either
    def settled(): Int = {
      ListenerBridge.waitUntilEmpty(sc, 30000L)
      ListenerBridge.listeners(sc).count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
    }
    spark.streams.active // the caller's own bus
    val before = settled()
    assert(run("es_live_store").count() > 0 && run("es_live_store").count() > 0)
    // the buses come off on a thread of their own, after the last event
    val deadline = System.nanoTime() + 30000000000L
    while (settled() != before && System.nanoTime() < deadline) Thread.sleep(20)
    assert(settled() == before)
  }

  test("lookups from 4 threads on one session each equal the filtered snapshot") {
    import spark.implicits._
    val dir = tempDir("graft_concurrent_lookup").getPath + "/store"
    val t0 = 1704067200000L
    (0 until 3).foreach { b =>
      LiveStore.upsert((0 until 40).map { i =>
        Ev(b * 100L + i, new java.sql.Timestamp(t0 + (b * 40 + i) * 1000L), (i * 7 + b) % 30 - 5L,
          graft.operators.EventSourcing.evTypes((i + b) % 5), i / 8.0)
      }.toDF(), b, dir)
    }
    val snap = LiveStore.snapshot(spark, dir).collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    val keys = (-6L to 26L).toSeq // absent keys too
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val mismatches = new ConcurrentLinkedQueue[Long]()
    (0 until 4).map { t =>
      thread((0 until 5).foreach(_ => keys.map(_ + t % 2).foreach { k =>
        if (LiveStore.lookup(spark, dir, k).collect().toSeq != snap.get(k).toSeq) mismatches.add(k)
      }), failures)
    }.foreach(_.join())
    assert(failures.isEmpty, failures.asScala.map(_.toString).mkString("; "))
    assert(mismatches.isEmpty, s"lookups that differ from the snapshot: $mismatches")
  }

  test("a child session's lookup pieces do not keep the child alive") {
    import spark.implicits._
    import org.apache.spark.graftbridge.ListenerBridge
    val dir = tempDir("graft_child_lookup").getPath + "/store"
    LiveStore.upsert(Seq(Ev(1, new java.sql.Timestamp(0L), 7, "click", 1.0)).toDF(), 0L, dir)
    var child = GraftSession.child(spark)
    assert(LiveStore.lookup(child, dir, 7L).collect().length == 1)
    val ref = new java.lang.ref.WeakReference(child)
    child = null
    val deadline = System.nanoTime() + 30000000000L
    while (ref.get != null && System.nanoTime() < deadline) {
      ListenerBridge.waitUntilEmpty(spark.sparkContext, 30000L)
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "the child session is still reachable")
  }
}
