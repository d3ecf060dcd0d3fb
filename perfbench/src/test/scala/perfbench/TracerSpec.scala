package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("perfbench-tracer-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  test("queries run back to back are charged to their own tags") {
    val tracer = new Tracer(spark)
    try {
      val runner = new Runner(spark, "", 60, Some(tracer))
      // one job in the body (collect), one in the final action
      val twoJobs = Harness.Query("two",
        (s, _) => { s.range(100).collect(); s.range(10).toDF() }, None)
      val oneJob = Harness.Query("one", (s, _) => s.range(10).toDF(), None)
      assert(runner.execute(twoJobs, "p0/two", noop).error.isEmpty)
      assert(runner.execute(oneJob, "p0/one", noop).error.isEmpty)
      tracer.drain()
      def c(tag: String) = tracer.counters(tag)
      assert(c("p0/two/body").jobs == 1)
      assert(c("p0/two/action").jobs == 1)
      assert(c("p0/one/body").jobs == 0)
      assert(c("p0/one/action").jobs == 1)
      // each final action's plan is charged to its own action tag
      assert(c("p0/two/action").actions == 1)
      assert(c("p0/one/action").actions == 1)
      assert(c("p0/one/body").actions == 0)
      assert(c("p0/two/action").tasks > 0 && c("p0/one/action").tasks > 0)
    } finally tracer.close()
  }

  test("a query that hangs or throws is one failed execution; the next runs") {
    val runner = new Runner(spark, "", 1, None)
    val hang = Harness.Query("hang", (s, _) => { Thread.sleep(30000); s.range(1).toDF() }, None)
    val boom = Harness.Query("boom", (_, _) => sys.error("boom\nsecond line"), None)
    val ok = Harness.Query("ok", (s, _) => s.range(10).toDF(), None)
    assert(runner.execute(hang, "hang", noop).error.exists(_.startsWith("timed out")))
    assert(runner.execute(boom, "boom", noop).error.contains("boom"))
    assert(runner.execute(ok, "ok", noop).error.isEmpty)
  }
}
