package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

class ParSpec extends AnyFunSuite {

  test("results come back in input order, whatever order the arms finish in") {
    val xs = 0 until 12
    // Earlier arms sleep longer, so they finish last.
    val out = Par.map(xs, parallelism = 4) { i => Thread.sleep((12 - i) * 5L); i * i }
    assert(out === xs.map(i => i * i))
  }

  test("the first failure in input order is rethrown, not the first to happen") {
    val e = intercept[IllegalStateException] {
      Par.map(0 until 5, parallelism = 5) { i =>
        if (i == 1) { Thread.sleep(200); throw new IllegalStateException("arm 1") }
        if (i == 3) throw new IllegalStateException("arm 3")
        i
      }
    }
    assert(e.getMessage === "arm 1")
  }

  test("arms not yet started never run after a failure") {
    val ran = new ConcurrentLinkedQueue[Int]()
    val gate = new CountDownLatch(1) // stays shut while Par.map runs
    val e = intercept[RuntimeException] {
      Par.map(0 until 8, parallelism = 2) { i =>
        ran.add(i)
        if (i == 0) throw new RuntimeException("arm 0")
        gate.await(10, TimeUnit.SECONDS) // the failure's cancel interrupts this
        i
      }
    }
    assert(e.getMessage === "arm 0")
    // Open the gate: a queued arm that was not cancelled would now run to
    // completion. Two threads means arms 0 and 1, plus at most arm 2 (which
    // arm 0's thread may pick up before the cancel), are all that ever start.
    gate.countDown()
    Thread.sleep(300)
    assert(ran.asScala.toSet.subsetOf(Set(0, 1, 2)), ran)
  }

  test("a nested Par.map does not deadlock") {
    val nested = Future {
      Par.map(1 to 4, parallelism = 2) { i =>
        Par.map(1 to 4, parallelism = 2)(j => i * j).sum
      }
    }
    assert(Await.result(nested, 30.seconds) === (1 to 4).map(_ * 10))
  }
}
