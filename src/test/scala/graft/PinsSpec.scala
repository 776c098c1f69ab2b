package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Pins.shared]]: one eager materialization per key, however many
  * callers race for it, and no cached failures. */
class PinsSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  // pins are process-global: a fresh nonce keeps a rerun in the same
  // JVM from reading an earlier run's frames
  private val nonce = java.util.UUID.randomUUID().toString

  test("8 threads racing on one key get the same frame, built and computed once") {
    val n = 2000L
    val builds = new AtomicInteger
    val rowsComputed = spark.sparkContext.longAccumulator("pins_rows_computed")
    val touch = udf { (id: Long) => rowsComputed.add(1L); id }
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val results =
      try {
        val futs = (1 to 8).map { _ =>
          pool.submit(new Callable[(DataFrame, Long, Long)] {
            override def call(): (DataFrame, Long, Long) = {
              start.await()
              val df = Pins.shared(spark, "race", nonce) {
                builds.incrementAndGet()
                spark.range(0, n, 1, 4).select(touch(col("id")).as("id"))
              }
              // read BEFORE this caller's own action
              val computedOnReturn = rowsComputed.value.longValue
              (df, computedOnReturn, df.count())
            }
          })
        }
        start.countDown()
        futs.map(_.get(5, TimeUnit.MINUTES))
      } finally pool.shutdownNow()
    assert(results.forall(_._1 eq results.head._1), "racing callers got different frames")
    assert(builds.get() === 1, "the build body ran more than once")
    // eager: the pin was materialized before shared() handed it back
    assert(results.forall(_._2 === n),
      s"rows computed when shared() returned: ${results.map(_._2)}")
    assert(results.forall(_._3 === n))
    // every thread's action read the materialized blocks: each row was
    // computed exactly once, by the pin's own job
    assert(rowsComputed.value === n,
      s"${rowsComputed.value} row computations for $n rows")
  }

  test("a pin built from inside another pin's build returns") {
    val pool = Executors.newSingleThreadExecutor()
    val outer =
      try pool.submit(new Callable[DataFrame] {
          override def call(): DataFrame =
            Pins.shared(spark, "outer", nonce) {
              Pins.shared(spark, "inner", nonce)(spark.range(10).toDF("id"))
                .withColumn("sq", col("id") * col("id"))
            }
        }).get(5, TimeUnit.MINUTES)
      finally pool.shutdownNow()
    assert(outer.count() === 10)
    assert(outer.agg(sum("sq")).head().getLong(0) === 285L)
    val inner = Pins.shared(spark, "inner", nonce)(fail("inner pin rebuilt"))
    assert(inner.count() === 10)
  }

  test("a throwing build is not cached: the next call builds again") {
    val attempts = new AtomicInteger
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("materialization failed"); id
    }
    def build(): DataFrame = attempts.incrementAndGet() match {
      case 1 => throw new IllegalStateException("build failed")
      // the build returns, but the eager checkpoint's job fails
      case 2 => spark.range(5).select(boom(col("id")).as("id"))
      case _ => spark.range(5).toDF("id")
    }
    intercept[IllegalStateException](Pins.shared(spark, "flaky", nonce)(build()))
    intercept[Exception](Pins.shared(spark, "flaky", nonce)(build()))
    val df = Pins.shared(spark, "flaky", nonce)(build())
    assert(df.count() === 5)
    assert(attempts.get() === 3)
    assert(Pins.shared(spark, "flaky", nonce)(build()) eq df)
    assert(attempts.get() === 3)
  }
}
