package graft.queryengine

import org.scalatest.funsuite.AnyFunSuite

/** The engine's point-lookup caches answer a query from its cache hits
  * plus one fill of its misses (`getAll`). A full cache evicts while the
  * fill inserts, so the answer must not be re-read from the cache after
  * the fill: a hit, or a just-filled key, may already be gone. */
class BoundedLruSpec extends AnyFunSuite {

  test("getAll keeps hits its own fill evicts") {
    val lru = new SearchEngine.BoundedLru[String, Long](2)
    lru.getAll(Seq("t1", "t2"))(ms => ms.map(_ -> 1L).toMap)
    // one hit (t1) and three misses into a cap of two: the fill evicts
    // t1 and m1, yet this query's answer holds all four
    val got = lru.getAll(Seq("t1", "m1", "m2", "m3"))(ms => ms.map(_ -> 9L).toMap)
    assert(got == Map("t1" -> 1L, "m1" -> 9L, "m2" -> 9L, "m3" -> 9L))
    assert(lru.get("t1").isEmpty && lru.get("m1").isEmpty)
    assert(lru.get("m3").contains(9L))
  }

  test("get counts as an access: a probed entry survives") {
    val lru = new SearchEngine.BoundedLru[String, Long](2)
    lru.getAll(Seq("a", "b"))(ms => ms.map(_ -> 0L).toMap) // a is eldest
    assert(lru.get("a").contains(0L))
    lru.getOrElseUpdate("c", 3L)
    assert(lru.get("a").nonEmpty, "a just-probed entry must not be evicted")
    assert(lru.get("b").isEmpty, "the untouched eldest is the one evicted")
  }

  test("keys the fill leaves out stay absent and uncached") {
    val lru = new SearchEngine.BoundedLru[Long, String](8)
    var fills = 0
    def lookup(ids: Seq[Long]) = lru.getAll(ids) { ms =>
      fills += 1
      ms.filter(_ % 2 == 0).map(id => id -> s"doc$id").toMap
    }
    assert(lookup(Seq(1L, 2L)) == Map(2L -> "doc2"))
    assert(lookup(Seq(2L)) == Map(2L -> "doc2") && fills == 1)
    assert(lookup(Seq(1L, 2L)) == Map(2L -> "doc2") && fills == 2)
  }
}
