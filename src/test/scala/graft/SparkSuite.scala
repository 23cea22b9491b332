package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{classic, SparkSession, SparkSessionExtensions}
import org.scalatest.{BeforeAndAfterAll, TestSuite}
import org.scalatest.concurrent.{Signaler, TimeLimitedTests}
import org.scalatest.time.{Minutes, Span}

/** How specs get a session: mix this in and use `spark`.
  *
  * All suites run in one forked test JVM, so they share one session:
  * [[GraftSession]] at 4 cores (the bench's configuration) with a fresh
  * temp warehouse dir. Runtime confs a suite sets are put back when the
  * suite ends. Each test runs under a wall-clock limit; a test that
  * overruns has the session's jobs cancelled and its thread interrupted,
  * so it fails by name instead of taking the shared context down.
  */
trait SparkSuite extends TimeLimitedTests with BeforeAndAfterAll {
  this: TestSuite =>

  protected lazy val spark: SparkSession = SparkSuite.session

  override val timeLimit: Span = SparkSuite.TimeLimit
  override val defaultTestSignaler: Signaler = SparkSuite.CancelJobs

  /** A session on the shared context without GraftExtensions: the
    * library user who never set `spark.sql.extensions`, for specs of
    * what such a session refuses. Every builder path applies the
    * context's configured extensions, so this calls the session
    * constructor that takes them explicitly.
    */
  protected def bareSession(): SparkSession = {
    val shared = spark.asInstanceOf[classic.SparkSession]
    classOf[classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(shared.sparkContext, Some(shared.sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[SparkSession]
  }

  /** Spark jobs submitted from this thread while `body` runs. A marker
    * job in its own group runs after `body`; the listener has seen every
    * earlier job once it has seen the marker.
    */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count probe")
      body
      sc.setJobGroup(group + "-marker", "listener marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(group + "-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(group + "-marker"), "listener never saw the marker")
      seen.toArray.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private var confAtStart = Map.empty[String, String]

  override protected def beforeAll(): Unit = {
    confAtStart = spark.conf.getAll
    // a cancelled job of this suite's thread also interrupts its tasks,
    // so a task blocked in a runaway test frees its core
    spark.sparkContext.setInterruptOnCancel(true)
    super.beforeAll()
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      val now = spark.conf.getAll
      (now.keySet -- confAtStart.keySet).foreach(spark.conf.unset)
      confAtStart.foreach { case (k, v) =>
        if (!now.get(k).contains(v)) spark.conf.set(k, v)
      }
    }
}

object SparkSuite {
  /** Per-test limit: over 3× the slowest single test of a green run. */
  val TimeLimit: Span = Span(15, Minutes)

  private lazy val session: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_spec_wh").toString)
    .getOrCreate()

  private object CancelJobs extends Signaler {
    def apply(testThread: Thread): Unit = {
      SparkSession.getDefaultSession.foreach(_.sparkContext.cancelAllJobs())
      testThread.interrupt()
    }
  }
}
