package graft.query

import graft.SparkSpec

/** Differential specs for the compiled-plan cache (r17): a cached plan
  * must never outlive the store state it compiled against. Every case
  * runs the SAME query text before and after a mutation — commits
  * (re-store, update statement, sdb:commit, member-local), cross-Store
  * writers, index DDL, resource drops, revision compaction — and
  * asserts the post-mutation answer matches a cache-free control
  * store's. Purity gating (side-effecting queries never cache) is
  * covered by re-running an update statement twice. */
class PlanCacheSpec extends SparkSpec {

  private def freshStore(prefix: String): JsoniqRun.Store =
    new JsoniqRun.Store(spark,
      java.nio.file.Files.createTempDirectory(prefix).toString)

  private def doc(v: Int): String =
    s"""{"a": $v, "items": [${(1 to 5).map(i => s"""{"v": ${i * v}}""").mkString(",")}]}"""

  test("re-store invalidates a cached read plan") {
    val st = freshStore("graft-plancache")
    st.store("c", "d", doc(1))
    val q = "jn:doc('c','d').a"
    assert(JsoniqRun.serialize(st, q) === "1")
    assert(JsoniqRun.serialize(st, q) === "1") // second call: cache hit
    st.store("c", "d", doc(7))
    assert(JsoniqRun.serialize(st, q) === "7")
  }

  test("update statement invalidates and is itself never cached") {
    val st = freshStore("graft-plancache")
    st.store("c", "d", doc(1))
    val q = "jn:doc('c','d').items[0].v"
    assert(JsoniqRun.serialize(st, q) === "1")
    JsoniqRun.serialize(st, "replace json value of jn:doc('c','d').items[0].v with 41")
    assert(JsoniqRun.serialize(st, q) === "41")
    // the SAME update text must apply again (a cached update would no-op)
    JsoniqRun.serialize(st, "replace json value of jn:doc('c','d').items[0].v with 42")
    assert(JsoniqRun.serialize(st, q) === "42")
  }

  test("a second Store over the same dir invalidates by fingerprint") {
    val st = freshStore("graft-plancache")
    st.store("c", "d", doc(2))
    val q = "jn:doc('c','d').a"
    assert(JsoniqRun.serialize(st, q) === "2")
    val other = new JsoniqRun.Store(spark, st.baseDir)
    other.store("c", "d", doc(9))
    assert(JsoniqRun.serialize(st, q) === "9")
  }

  test("time-travel reads stay pinned while head reads move") {
    val st = freshStore("graft-plancache")
    st.store("c", "d", doc(1))
    st.store("c", "d", doc(5))
    val q1 = "jn:doc('c','d',1).a"
    val qh = "jn:doc('c','d').a"
    assert(JsoniqRun.serialize(st, q1) === "1")
    assert(JsoniqRun.serialize(st, qh) === "5")
    st.store("c", "d", doc(8))
    assert(JsoniqRun.serialize(st, q1) === "1")
    assert(JsoniqRun.serialize(st, qh) === "8")
  }

  test("index DDL invalidates cached routing") {
    val st = freshStore("graft-plancache")
    st.store("c", "d", doc(3))
    val find = "jn:find-cas-index(jn:doc('c','d'), 'xs:double', '/items/[]/v')"
    assert(JsoniqRun.serialize(st, find) === "-1")
    JsoniqRun.serialize(st,
      """let $d := jn:doc('c','d')
        |let $s := jn:create-cas-index($d, 'xs:double', '/items/[]/v')
        |return {"revision": sdb:commit($d)}""".stripMargin)
    assert(JsoniqRun.serialize(st, find) !== "-1")
  }

  test("drop + re-create of a resource serves the new content") {
    val st = freshStore("graft-plancache")
    st.store("c", "d", doc(4))
    val q = "jn:doc('c','d').a"
    assert(JsoniqRun.serialize(st, q) === "4")
    JsoniqRun.serialize(st, "jn:drop-resource('c','d')")
    st.store("c", "d", doc(6))
    assert(JsoniqRun.serialize(st, q) === "6")
  }

  test("revision compaction under a cached plan re-verifies") {
    val st = freshStore("graft-plancache")
    st.store("c", "d", doc(1))
    st.store("c", "d", doc(2))
    val q1 = "jn:doc('c','d',1).a"
    assert(JsoniqRun.serialize(st, q1) === "1")
    // compact revision 1 in place (same revision number, new files)
    val path = st.docPath("c", "d")
    graft.sources.RevisionCompaction.compactRevision(
      spark, path, 1, targetFileBytes = 1L << 20)
    assert(JsoniqRun.serialize(st, q1) === "1")
  }

  test("member-local fast commit invalidates cached reads") {
    val prev = sys.props.get("graft.shred.min")
    sys.props("graft.shred.min") = "1"
    try {
      val st = freshStore("graft-plancache")
      st.store("c", "d", "[" +
        (1 to 64).map(i => s"""{"v": $i}""").mkString(",") + "]")
      val q = "jn:doc('c','d')[2].v"
      assert(JsoniqRun.serialize(st, q) === "3")
      JsoniqRun.serialize(st,
        "replace json value of jn:doc('c','d')[2].v with 300")
      assert(JsoniqRun.serialize(st, q) === "300")
    } finally prev match {
      case Some(v) => sys.props("graft.shred.min") = v
      case None => sys.props.remove("graft.shred.min"); ()
    }
  }

  test("a burst of new texts evicts the coldest plans, never the hot one") {
    val st = freshStore("graft-plancache")
    st.store("c", "d", doc(3))
    val hot = "jn:doc('c','d').a"
    val plan = JsoniqRun.run(st, hot)
    val burst = (1 to 70).map { i =>
      val p = JsoniqRun.run(st, s"jn:doc('c','d').a + $i")
      assert(st.planCacheSize <= JsoniqRun.PlanCacheCap)
      // the hot text keeps being used while the burst goes by
      if (i % 10 == 0) assert(JsoniqRun.run(st, hot) eq plan, s"hot plan evicted after $i texts")
      p
    }
    assert(st.planCacheSize == JsoniqRun.PlanCacheCap)
    assert(JsoniqRun.run(st, hot) eq plan)
    assert(JsoniqRun.serialize(st, hot) === "3")
    // the burst's oldest text was evicted; its newest is still a hit
    assert(JsoniqRun.run(st, "jn:doc('c','d').a + 1") ne burst.head)
    assert(JsoniqRun.run(st, "jn:doc('c','d').a + 70") eq burst.last)
  }
}
