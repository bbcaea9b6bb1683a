package graft

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The engine on REAL executors: `local-cluster[2,2,1024]` forks two
  * executor JVMs, so everything local[N] can't exercise runs for real —
  * closure/expression serialization across process boundaries, remote
  * shuffle fetch, the speculation scheduler (structurally off in local
  * mode: TaskSchedulerImpl only starts it when !isLocal), and true
  * executor loss with shuffle-file loss and stage resubmission.
  *
  * Runs in its own JVM group (build.sbt): the master is a SparkContext-
  * level choice, and executor launch needs SPARK_HOME + SPARK_SCALA_VERSION
  * in the environment (set by the fork options; SPARK_HOME points at
  * target/spark-home, a symlink shim onto /opt/spark/jars so executor work
  * dirs land inside the repo). Executors inherit this JVM's full classpath
  * via spark.executor.extraClassPath — lambdas defined in this suite
  * deserialize on the executor only if scalatest is there too.
  *
  * Driver-side proof that faults really happened comes from a
  * SparkListener (speculative task starts, injected-failure task ends):
  * executor-JVM statics are invisible here, and user accumulators drop
  * failed-task updates — the listener is the only honest channel.
  */
class LocalClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  /** SIGKILL only THIS app's executors: a bare `pkill -f CoarseGrained-
    * ExecutorBackend` would hit every Spark job on a shared host. The
    * backend launch command carries `--app-id <appId>`, so scoping the
    * pattern to it is exact.
    */
  private def killOwnExecutors(): Unit =
    Runtime.getRuntime.exec(Array(
      "pkill", "-9", "-f",
      s"CoarseGrainedExecutorBackend.*${spark.sparkContext.applicationId}")
    ).waitFor()

  private object listener extends SparkListener {
    val speculativeStarts = new java.util.concurrent.atomic.AtomicInteger(0)
    val injectedFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    val lostExecutorTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val runningTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
      runningTasks.incrementAndGet()
      if (ts.taskInfo.speculative) speculativeStarts.incrementAndGet()
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val r = Option(te.reason).map(_.toString).getOrElse("")
      // a finished map task whose output died with its executor gets a
      // second TaskEnd (reason Resubmitted) while it is not running; left
      // counted, each one drives runningTasks below the tasks in flight
      if (r != "Resubmitted") runningTasks.decrementAndGet()
      if (r.contains("injected fault")) injectedFailures.incrementAndGet()
      if (r.contains("ExecutorLostFailure") || r.contains("FetchFailed"))
        lostExecutorTasks.incrementAndGet()
    }
  }

  private lazy val spark: SparkSession = {
    // self-contained shim: executor-launch classpath resolution needs a
    // SPARK_HOME with a jars/ dir; symlink onto the image's Spark
    val home = java.nio.file.Paths.get("target/spark-home").toAbsolutePath
    java.nio.file.Files.createDirectories(home)
    for (d <- Seq("jars", "conf")) {
      val link = home.resolve(d)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"/opt/spark/$d"))
    }
    val s = GraftSession.configure(SparkSession.builder()
      .master("local-cluster[2,2,1024]")
      .appName("LocalClusterSpec")
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.sql.shuffle.partitions", "4"))
      // aggressive speculation: with one 2 s straggler among 4 uniform
      // tasks, a duplicate attempt launches within ~100 ms
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "50ms")
      .config("spark.speculation.multiplier", "1.2")
      .config("spark.speculation.quantile", "0.25")
      // r13 flake hardening (the round-12 driver gate failed with a netty
      // transport-teardown tail — the signature of a kill-heavy test
      // exhausting retry budgets on a LOADED box, where the standalone
      // master relaunches executors slowly and the same task can fail
      // several times against half-registered executors before one run
      // sticks). The kills these tests inject are the point; aborting the
      // job on the default 4 task failures / 4 consecutive stage attempts
      // is not. Generous budgets keep the fault injection meaningful
      // (every failure still recovers THROUGH the recovery machinery)
      // while removing the load-dependent abort.
      .config("spark.task.maxFailures", "16")
      .config("spark.stage.maxConsecutiveAttempts", "10")
      .getOrCreate()
    s.sparkContext.addSparkListener(listener)
    s
  }

  private def docs = Tables.load(spark, dir, "documents")

  private def withConf[A](kv: (String, String))(body: => A): A = {
    val old = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally old match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None => spark.conf.unset(kv._1)
    }
  }

  test("representative queries run on real executors, AQE on == off") {
    // serialization + remote-shuffle smoke across the operator families:
    // custom codegen expressions, window/sort machinery, salted joins,
    // LSH banding, the grouped prefix scan, streaming's batch twin
    val subset = Seq("q3_topk", "dedup_minhash", "merge_streams",
      "subpartition_roundrobin", "similarity_topk", "resample_locf",
      "corpus_pack", "hybrid_search_bm25", "sessionize_batch", "text_stats")
    var totalRows = 0L
    for (q <- subset) {
      val on = RowCanon.collect(SparkEntry.queries(q)(spark, dir))
      val off = withConf("spark.sql.adaptive.enabled" -> "false") {
        RowCanon.collect(SparkEntry.queries(q)(spark, dir))
      }
      assert(on == off, s"$q diverges on real executors: ${RowCanon.diff(on, off)}")
      totalRows += on.size - 1
    }
    assert(totalRows > 0, "the whole subset returned no rows on the cluster")
  }

  test("task retry on a real cluster reproduces the clean result") {
    val gate = udf { (_: Int) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
        throw new RuntimeException("injected fault: first attempt, partition 0")
      true
    }.asNondeterministic()
    val clean = RowCanon.collect(
      operators.Dedup.minhashLsh(docs, col("doc_id"), col("text"),
        threshold = 0.5))
    val before = listener.injectedFailures.get()
    val faulted = RowCanon.collect(
      operators.Dedup.minhashLsh(docs.filter(gate(lit(1))),
        col("doc_id"), col("text"), threshold = 0.5))
    assert(listener.injectedFailures.get() > before,
      "the injected fault never fired on the cluster")
    assert(clean == faulted, RowCanon.diff(clean, faulted))
  }

  // NOTE: speculation is configured aggressively above and the scheduler's
  // speculative-execution thread demonstrably starts on this master, but a
  // speculative COPY can never launch here: TaskSetManager refuses to place
  // a second live attempt on a host that already has one
  // (dequeueSpeculativeTask's hasAttemptOnHost guard), and every
  // local-cluster worker registers as localhost. Verified empirically — a
  // 2 s straggler among uniform tasks never produced a speculative task
  // start. What speculation would exercise is covered piecewise: duplicate-
  // attempt output hygiene by the commit-protocol test in
  // FaultToleranceSpec (a replaced attempt's files are discarded), and
  // recomputation determinism by the retry tests here and there.

  test("losing an executor mid-job (shuffle files and all) is recovered") {
    // a straggler holds the reduce stage open while we SIGKILL executor 0:
    // its shuffle map output dies with it, so finishing the job needs
    // FetchFailed handling, map-stage resubmission on the survivor + the
    // replacement the standalone master re-launches, and deterministic
    // recomputation — the spot-loss story, end to end
    val slowReduce = udf { (id: Long) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 &&
          FaultInjection.slept.add(
            s"x-${tc.stageId()}-${tc.stageAttemptNumber()}-${tc.taskAttemptId()}"))
        Thread.sleep(4000)
      id
    }.asNondeterministic()
    def plan(d: DataFrame) = d
      .groupBy("lang")
      .agg(expr("bit_xor(xxhash64(doc_id))").as("hs"), count(lit(1)).as("n"))
      .select(slowReduce(col("hs")).as("hs"), col("lang"), col("n"))
    val clean = RowCanon.collect(plan(docs))
    // r13: retry the scenario instead of failing it when the kill lands
    // after the job already finished (single-shot timing flaked under
    // box load — the job's wall-clock varies 5-10x there); every attempt
    // still requires full result equality, only the proved-nothing case
    // re-arms.
    var landed = false
    var survived: Seq[String] = Seq.empty
    var attempt = 0
    while (!landed && attempt < 5) {
      FaultInjection.slept.clear() // re-arm the straggler for this attempt
      val before = listener.lostExecutorTasks.get()
      val killer = new Thread(() => {
        Thread.sleep(1500) // let the map stage finish and the reduce start
        killOwnExecutors()
      })
      killer.start()
      survived = RowCanon.collect(plan(docs))
      killer.join()
      landed = listener.lostExecutorTasks.get() > before
      attempt += 1
    }
    assert(landed,
      s"the kill landed after the job finished in all $attempt attempts " +
        "— the test proved nothing")
    assert(clean == survived, RowCanon.diff(clean, survived))
  }

  test("connectedComponents(checkpointDir) survives losing every executor mid-closure") {
    // the round-6 claim, executed on the forced executor loop (a graph
    // this small would close on the driver): reliable checkpoints (vs
    // localCheckpoint, whose blocks die with the executor) let the
    // iterative closure resume
    // from files after an executor loss. 50 chain components of size 100 →
    // ~7 pointer-jumping rounds; a once-per-attempt straggler holds the
    // computation open long enough for the kill to land mid-closure.
    val ckpt = java.nio.file.Files
      .createTempDirectory("cc-checkpoint").toString
    val straggle = udf { (id: Long) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 &&
          FaultInjection.slept.add(
            s"cc-${tc.stageId()}-${tc.stageAttemptNumber()}-${tc.taskAttemptId()}"))
        Thread.sleep(1000)
      id
    }.asNondeterministic()
    def edges = spark.range(0, 5000, 1, 4)
      .select(straggle(col("id")).as("s"),
        when(col("id") % 100 === 99, col("id"))
          .otherwise(col("id") + 1).as("d"))
    def run() = RowCanon.collect(operators.Dedup.connectedComponents(
      edges, "s", "d", checkpointDir = Some(ckpt),
      route = operators.Routing.Large))
    val clean = run()
    assert(clean.size == 5001, s"expected 5000 labeled nodes, got ${clean.size - 1}")
    // r13: retry-until-landed (see the executor-loss test) — fixed-delay
    // kills raced the closure's load-dependent wall-clock
    var landed = false
    var survived: Seq[String] = Seq.empty
    var attempt = 0
    while (!landed && attempt < 5) {
      val before = listener.lostExecutorTasks.get()
      val killer = new Thread(() => {
        Thread.sleep(2000)
        killOwnExecutors()
      })
      killer.start()
      survived = run()
      killer.join()
      landed = listener.lostExecutorTasks.get() > before
      attempt += 1
    }
    assert(landed,
      s"the kill landed outside the closure in all $attempt attempts — " +
        "the test proved nothing")
    assert(clean == survived, RowCanon.diff(clean, survived))
  }

  test("streaming window state survives executor loss mid-query") {
    // stateful streaming on real executors: HDFSBackedStateStore must
    // reload from the checkpoint on the relaunched executors, and append
    // mode must still emit every finalized window exactly once with an
    // exact count — across a kill that takes the state store's hosts down
    val rowsPerBatch = 100000L
    val batches = 20
    val ckpt = java.nio.file.Files
      .createTempDirectory("stream-loss-ckpt").toString
    val windows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    // every task attempt holds its slot ~250 ms (once per attempt, not per
    // row): with back-to-back batches the executors are busy most of the
    // time, so the retried kill below lands on an IN-FLIGHT task — a kill
    // between micro-batches surfaces as nothing at all to the listener
    val holdTask = udf { (v: Long) =>
      val tc = TaskContext.get()
      if (tc != null && FaultInjection.slept.add(
          s"sw-${tc.stageId()}-${tc.stageAttemptNumber()}-${tc.taskAttemptId()}"))
        Thread.sleep(250)
      v
    }.asNondeterministic()
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", 4)
      .option("startTimestamp", 0L)
      .option("advanceMillisPerBatch", 1000)
      .load()
      .withColumn("value", holdTask(col("value")))
    val agg = src.withWatermark("timestamp", "2 seconds")
      .groupBy(window(col("timestamp"), "1 second").as("w"))
      .agg(count(lit(1)).as("n"))
    val before = listener.lostExecutorTasks.get()
    val q = agg.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append") // only finalized windows, exactly once each
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { r =>
          val w = r.getStruct(0).getTimestamp(0).toInstant.toString
          windows.merge(w, r.getLong(1), Long.box(_) + Long.box(_))
        }
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // A fixed-delay kill raced the query under full-suite contention (the
    // 20 batches could drain, or the kill could land between tasks, and the
    // suite flaked on "proved nothing"). Instead: wait until the query is
    // provably mid-flight, then RE-kill until the listener observes a task
    // lost to an executor death — and hold the query open until it has.
    def landed() = listener.lostExecutorTasks.get() > before
    def batchId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val killer = new Thread(() => {
      while (q.isActive && batchId < 3) Thread.sleep(50)
      var tries = 0
      while (q.isActive && !landed() && tries < 30) {
        // only pull the trigger while tasks are IN FLIGHT (the 250 ms
        // holdTask makes that window wide): blind rapid-fire kills were
        // observed SIGKILLing fresh executors before they registered —
        // tasks then only ever ran between kills and nothing was lost
        // mid-task; the 1 s gap lets the standalone master relaunch and
        // re-register between attempts
        if (listener.runningTasks.get() >= 2) {
          killOwnExecutors()
          tries += 1
        }
        Thread.sleep(1000)
      }
    })
    killer.start()
    try {
      // run to the minimum batch count AND until the kill has landed, with
      // a hard batch cap so a kill that never lands cannot hang the suite
      while (q.isActive && (batchId < batches || !landed()) && batchId < 400)
        Thread.sleep(100)
    } finally q.stop()
    q.awaitTermination()
    killer.join()
    assert(landed(),
      "the kill landed outside the query — the test proved nothing")
    import scala.jdk.CollectionConverters._
    val finalized = windows.asScala
    assert(finalized.size >= batches / 2,
      s"too few finalized windows to judge: ${finalized.size}")
    val wrong = finalized.filter { case (_, n) => n != rowsPerBatch }
    assert(wrong.isEmpty,
      s"windows lost or double-counted rows across the executor loss: $wrong")
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
