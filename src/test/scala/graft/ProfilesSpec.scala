package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** [[Profiles.narrow]]: the pin holds for as long as ANY scope on the
  * session is open, and the session's own values come back when the
  * last one exits — nested, overlapping across threads, or thrown out
  * of. Each case runs on a child session with distinctive starting
  * values, so the shared test session's conf is never in play. */
class ProfilesSpec extends SparkSpec {

  private val WidthKey = "spark.sql.shuffle.partitions"
  private val AqeKey = "spark.sql.adaptive.enabled"

  private def fresh(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(WidthKey, "5")
    s.conf.set(AqeKey, "true")
    s
  }
  private def conf(s: SparkSession): (String, String) = (s.conf.get(WidthKey), s.conf.get(AqeKey))
  private val Narrow = (Profiles.NarrowWidth, "false")
  private val Own = ("5", "true")

  test("inside the scope the session plans at the narrow width with AQE off") {
    val s = fresh()
    val parts = Profiles.narrow(s) {
      assert(conf(s) == ("8", "false"))
      s.range(64).groupBy((col("id") % 3).as("k")).count().rdd.getNumPartitions
    }
    assert(parts == 8)
    assert(conf(s) == Own)
  }

  test("a nested scope restores only on the outer exit") {
    val s = fresh()
    Profiles.narrow(s) {
      Profiles.narrow(s) { assert(conf(s) == Narrow) }
      assert(conf(s) == Narrow, "the inner exit must not restore under the outer scope")
    }
    assert(conf(s) == Own)
  }

  test("a throwing body restores the session") {
    val s = fresh()
    intercept[IllegalStateException] {
      Profiles.narrow(s) { throw new IllegalStateException("boom") }
    }
    assert(conf(s) == Own)
    // and the scope state is clean: a later scope records the same values
    Profiles.narrow(s) { assert(conf(s) == Narrow) }
    assert(conf(s) == Own)
  }

  test("overlapping scopes on two threads (A in, B in, A out, B out) leave the session as it was") {
    val s = fresh()
    val aIn, bIn, aOut = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    var bAfterA: (String, String) = null // written by B, read after B's join
    def onThread(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    def await(l: CountDownLatch): Unit = assert(l.await(30, TimeUnit.SECONDS))
    val a = onThread(Profiles.narrow(s) { aIn.countDown(); await(bIn) })
    val b = onThread {
      await(aIn)
      Profiles.narrow(s) {
        bIn.countDown()
        await(aOut)
        // A has exited; B's scope is still open, so the pin must hold
        bAfterA = conf(s)
      }
    }
    a.join(30000)
    aOut.countDown()
    b.join(30000)
    assert(!a.isAlive && !b.isAlive && errors.isEmpty, errors)
    assert(bAfterA == Narrow)
    assert(conf(s) == Own)
  }
}
