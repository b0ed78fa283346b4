package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** DiskMemo's per-key build contract under concurrent first callers. */
class DiskMemoSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("a caller waiting on a failing build gets the builder's own exception") {
    val tag = "failing_build_probe"
    graft.ops.DiskMemo.reset(tag)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var builderErr: Throwable = null
    @volatile var waiterErr: Throwable = null
    val builder = new Thread(() =>
      try graft.ops.DiskMemo.table(spark, sf, tag) {
        entered.countDown()
        release.await()
        throw new IllegalStateException("build failed")
      } catch { case t: Throwable => builderErr = t })
    builder.start()
    assert(entered.await(60, TimeUnit.SECONDS), "build never started")
    val waiter = new Thread(() =>
      try graft.ops.DiskMemo.table(spark, sf, tag) {
        throw new AssertionError("second caller ran its own build")
      } catch { case t: Throwable => waiterErr = t })
    waiter.start()
    // The waiter parks on the in-flight build's future.
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (waiter.getState != Thread.State.WAITING &&
        System.nanoTime() < deadline) Thread.sleep(5)
    assert(waiter.getState == Thread.State.WAITING, "waiter never blocked")
    release.countDown()
    builder.join(60000)
    waiter.join(60000)
    try {
      assert(builderErr.isInstanceOf[IllegalStateException], builderErr)
      assert(waiterErr.isInstanceOf[IllegalStateException], waiterErr)
      assert(waiterErr.getMessage == "build failed")
    } finally graft.ops.DiskMemo.reset(tag)
  }
}
