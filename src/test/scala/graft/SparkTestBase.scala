package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. sf0.001 keeps tests fast; the
  * session mirrors the driver's Verify configuration (UTC, small shuffle
  * partition count).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkTestBase.session

  /** A session built with [[graft.plans.GraftExtensions]] on the shared
    * context: the deployment route that gives graft's functions their
    * SQL names. */
  lazy val extSession: SparkSession = SparkTestBase.extSession

  // Per-suite hygiene: drop leftover persisted state and let the
  // weak-ref cleaner drain (the GC inside sweep) so later suites run
  // against a clean scheduler, not 20 suites of dead shuffles.
  override def afterAll(): Unit = {
    Checkpoints.sweep(SparkTestBase.session)
    super.afterAll()
  }

  /** Scope a session conf to one block: set happens INSIDE the try's
    * reach (prev is read first), so no throw can leak the value into
    * the JVM-shared session and contaminate later suites. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    try { spark.conf.set(key, value); body }
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Scope the RocksDB state-store provider (transformWithState's
    * requirement) to one block — the save/set/restore boilerplate
    * every stateful-processor test was re-pasting. */
  def withRocksDb[A](body: => A): A =
    withConf("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")(body)

  /** A temp dir owned for one block: created here, recursively deleted
    * in a finally — an assertion failure can't leak checkpoint/output
    * trees (the `rm` helper every checkpoint-using test was
    * re-pasting). */
  def withTempDir[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    try body(dir)
    finally rm(dir.toFile)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The suite runs thousands of small jobs in one session; without
      // this the weak-ref ContextCleaner never fires on the quiet test
      // heap and scheduler state accumulates (see Checkpoints.sweep).
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  lazy val extSession: SparkSession = {
    val shared = session
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions).create()
    // create() makes the new session the active and default one; every
    // other spec keeps running on the shared session
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    s
  }
}
