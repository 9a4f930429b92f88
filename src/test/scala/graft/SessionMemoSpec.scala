package graft

/** SessionMemo keeps DataFrames and driver-side artifacts in one store:
  * the first lookup of a key builds, later ones hit, the counters
  * Bench reads move by exactly one per lookup, and the value is pinned.
  */
class SessionMemoSpec extends SparkSpec {

  private def key(name: String) = s"SessionMemoSpec/$name/${java.util.UUID.randomUUID}"

  /** (hits, builds) moved by `f`, and its value. */
  private def counted[T](f: => T): (T, (Long, Long)) = {
    val (h0, b0) = SessionMemo.counters
    val v = f
    val (h1, b1) = SessionMemo.counters
    (v, (h1 - h0, b1 - b0))
  }

  test("a DataFrame key builds once, then hits") {
    val k = key("df")
    var builds = 0
    def lookup() = SessionMemo(spark, k) { builds += 1; spark.range(3).toDF("id") }
    val (first, c1) = counted(lookup())
    assert(c1 == ((0L, 1L)) && builds == 1)
    val (second, c2) = counted(lookup())
    assert(c2 == ((1L, 0L)) && builds == 1)
    assert(second eq first)
    assert(second.count() == 3)
  }

  test("an artifact key builds once, then hits") {
    val k = key("artifact")
    var builds = 0
    def lookup() = SessionMemo.any(spark, k) { builds += 1; Seq(Seq(1.0, 2.0)) }
    val (first, c1) = counted(lookup())
    assert(c1 == ((0L, 1L)) && builds == 1)
    val (second, c2) = counted(lookup())
    assert(c2 == ((1L, 0L)) && builds == 1)
    assert(second eq first)
  }

  test("a looked-up value is pinned strongly, so a full GC cannot clear it") {
    // a full GC leaves soft references alone unless memory is short, so
    // the pin is observed directly: with no pin, or a bound of 0, the
    // value would be held only by its soft reference
    val k = key("pinned")
    var builds = 0
    def lookup() = SessionMemo.any(spark, k) { builds += 1; new Array[Byte](1 << 10) }
    val first = lookup()
    assert(SessionMemo.isPinned(first))
    (1 to 3).foreach(_ => System.gc())
    val (again, c) = counted(lookup())
    assert(c == ((1L, 0L)) && builds == 1)
    assert(again eq first)
    assert(SessionMemo.isPinned(again))
  }
}
