package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.scalatest.funsuite.AnyFunSuite

class SettleSpec extends AnyFunSuite {

  test("settle waits until the event count stops moving and no job is open") {
    val events = new AtomicLong(0)
    val open = new AtomicInteger(1)
    // A bus thread still delivering events after the action returned.
    val bus = new Thread(() => {
      (1 to 30).foreach { _ => events.incrementAndGet(); Thread.sleep(5) }
      open.set(0)
      events.incrementAndGet()
    })
    bus.start()
    Settle.await(() => events.get(), () => open.get() == 0, sleepMs = 10)
    assert(open.get() == 0)
    assert(events.get() == 31, "settled before the last event was delivered")
    bus.join()
  }

  test("settle returns promptly on a quiet bus") {
    val t0 = System.nanoTime()
    Settle.await(() => 42L, () => true, sleepMs = 10)
    assert((System.nanoTime() - t0) / 1e6 < 1000)
  }

  test("settle gives up after its round limit when a job never ends") {
    Settle.await(() => 1L, () => false, maxRounds = 3, sleepMs = 1)
    succeed
  }
}
