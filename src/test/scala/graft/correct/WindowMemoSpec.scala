package graft.correct

import graft.Fixtures
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream,
  ObjectOutputStream}
import java.lang.ref.WeakReference
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** The window memo's contract: one memo per `CompiledModel` instance,
  * never serialized, never shared by a copy, and collected with the
  * instance. */
class WindowMemoSpec extends AnyFunSuite {

  lazy val model: CompiledModel =
    CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)

  private def bytes(m: CompiledModel): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val oo = new ObjectOutputStream(bo)
    oo.writeObject(m); oo.close()
    bo.toByteArray
  }

  private def fresh(m: CompiledModel): CompiledModel = {
    val oi = new ObjectInputStream(new ByteArrayInputStream(bytes(m)))
    try oi.readObject().asInstanceOf[CompiledModel] finally oi.close()
  }

  /** True when `key` was not in `cache`, i.e. `f` had to run. */
  private def misses(cache: AltCache, key: String): Boolean = {
    var computed = false
    cache.getOrCompute(key) { computed = true; Nil }
    computed
  }

  private def fill(m: CompiledModel): Unit =
    Fixtures.trainingPairs.foreach { case (ocr, _) =>
      Corrector.correctLine(ocr, m, m.windowMemo)
    }

  test("a second lookup hits: f is not evaluated") {
    val m = fresh(model)
    assert(misses(m.windowMemo, "ih niht"))
    assert(!misses(m.windowMemo, "ih niht"))
    // the benchmark harness's accessor is the same memo
    assert(SharedWindowCache.forModel(m) eq m.windowMemo)
    assert(!misses(SharedWindowCache.forModel(m), "ih niht"))
    val first = Corrector.windowAlternatives("niht", m, m.windowMemo)
    assert(first.nonEmpty)
    val again = m.windowMemo.getOrCompute("niht")(fail("niht was not memoized"))
    assert(again eq first)
  }

  test("a Java-deserialized copy starts cold") {
    val m = fresh(model)
    fill(m)
    assert(!misses(m.windowMemo, "ih"))
    val copy = fresh(m)
    assert(copy.windowMemo ne m.windowMemo)
    assert(misses(copy.windowMemo, "ih"))
  }

  test("withWordsPerWindow: a new w gets its own memo, the same w the same one") {
    val m = fresh(model)
    assert(m.lexiconFst.isDefined)
    m.windowMemo.getOrCompute("k")(Nil)
    val same = m.withWordsPerWindow(m.wordsPerWindow)
    assert(same eq m)
    assert(same.windowMemo eq m.windowMemo)
    val other = m.withWordsPerWindow(m.wordsPerWindow + 1)
    assert(other ne m)
    assert(other.windowMemo ne m.windowMemo)
    assert(misses(other.windowMemo, "k"))
  }

  test("16 threads that first touch a freshly deserialized model share one memo") {
    val threads = 16
    val pool = Executors.newFixedThreadPool(threads)
    try {
      for (_ <- 1 to 20) {
        val m = fresh(model)
        val start = new CyclicBarrier(threads)
        val seen = (1 to threads).map { _ =>
          pool.submit(() => { start.await(); m.windowMemo })
        }.map(_.get(30, TimeUnit.SECONDS))
        assert(seen.forall(_ eq seen.head))
        assert(seen.head eq m.windowMemo)
      }
    } finally pool.shutdownNow()
  }

  test("the model's serialized bytes are equal before and after its memo is filled") {
    val m = fresh(model)
    val before = bytes(m)
    fill(m)
    assert(!misses(m.windowMemo, "ih"))
    assert(java.util.Arrays.equals(bytes(m), before))
    assert(java.util.Arrays.equals(bytes(model), before))
  }

  /** Fills the memo of a model that nothing outside this frame keeps,
    * and returns a weak reference to a value stored only in that memo. */
  private def fillAndDrop(): WeakReference[Seq[Alt]] = {
    val m = fresh(model)
    val cache = SharedWindowCache.forModel(m)
    Fixtures.trainingPairs.foreach { case (ocr, _) =>
      Corrector.correctLine(ocr, m, cache)
    }
    val unique: Seq[Alt] = List(Alt(s"unique-${System.nanoTime()}", 0.0))
    assert(cache.getOrCompute("\u0001unique")(unique) eq unique)
    new WeakReference(unique)
  }

  test("a dropped model's memo is collected") {
    val ref = fillAndDrop()
    // no memo access from here on: the memo must go with its model
    var rounds = 0
    while (ref.get() != null && rounds < 50) {
      System.gc()
      Thread.sleep(20)
      rounds += 1
    }
    assert(ref.get() == null, s"memo value still reachable after $rounds GCs")
  }
}
