package graft.query

import graft.SparkSpec
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local-disk FileSystem on which every commit-log entry write fails
  * (the hidden temp file [[graft.sources.MetaIO.createNew]] writes for a
  * `_commits/NNNNNNNN.json` entry): a doc-row commit that reaches its
  * commit point throws, everything else writes normally. Registered
  * under the `shredfail` scheme via `fs.shredfail.impl`. */
class CommitLogFailFs extends RawLocalFileSystem {
  override def getScheme: String = "shredfail"
  override def getUri: java.net.URI = java.net.URI.create("shredfail:///")
  private def check(f: Path): Unit =
    if (f.getParent.getName == "_commits" &&
        f.getName.matches("\\.\\d{8}\\.json\\.tmp-.*"))
      throw new java.io.IOException(s"injected commit-log failure: $f")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

/** The shredded member-table serving layout, exercised at a tiny
  * threshold (-Dgraft.shred.min): member rows must agree with the
  * single-variant path on every consumer — unbox filters, FLWOR
  * for+where fusion (typed parquet pushdown), ABSOLUTE `at $p`
  * ordinals under a fused filter, update commits (which fall back to
  * the doc row for their new revision), and per-revision time travel. */
class ShredStoreSpec extends SparkSpec {

  private def withShredMin[A](body: => A): A = {
    val prev = sys.props.get("graft.shred.min")
    sys.props("graft.shred.min") = "1"
    try body
    finally prev match {
      case Some(v) => sys.props("graft.shred.min") = v
      case None => sys.props.remove("graft.shred.min"); ()
    }
  }

  private def withShredded[A](body: JsoniqRun.Store => A): A =
    withShredMin(body(new JsoniqRun.Store(spark,
      java.nio.file.Files.createTempDirectory("graft-shred-spec").toString)))

  private val doc =
    (1 to 20).map(i => s"""{"v": $i, "w": ${i % 3}}""")
      .mkString("[", ",", "]")

  test("shred sidecar written and unbox/filter served from it") {
    withShredded { st =>
      st.store("c", "d.jn", doc)
      assert(graft.sources.MetaIO.exists(
        s"${st.baseDir}/c/d.jn/_shred/r1"))
      // the write's COMMIT POINT is the completion marker, not the dir
      assert(graft.sources.MetaIO.exists(
        s"${st.baseDir}/c/d.jn/_shred/r1/${st.ShredCompleteMarker}"))
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','d.jn')[][?$$.v gt 15])") === "5")
    }
  }

  test("object-rooted documents shred their large arrays (field chains)") {
    withShredded { st =>
      val obj = """{"meta": {"name": "corpus"}, "items": [""" +
        (1 to 20).map(i => s"""{"v": $i}""").mkString(",") +
        """], "tags": [""" +
        (1 to 20).map(i => s""""t$i"""").mkString(",") + "]}"
      st.store("c", "o.jn", obj)
      // both arrays are manifest entries with their field chains
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','o.jn').items[])") === "20")
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','o.jn').tags[])") === "20")
      // typed pushdown through the chain ([?pred] and for+where)
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','o.jn').items[][?$$.v gt 15])") === "5")
      assert(JsoniqRun.serialize(st,
        "for $m in jn:doc('c','o.jn').items where $m.v gt 17 return $m.v")
        === "18 19 20")
      // non-shredded reads of the same document are unchanged
      assert(JsoniqRun.serialize(st,
        "jn:doc('c','o.jn').meta.name") === "\"corpus\"")
    }
  }

  test("stored XML documents shred large element lists (child chains)") {
    withShredded { st =>
      val xml = "<site><people>" +
        (1 to 20).map(i =>
          s"<person><name>p$i</name><age>$i</age></person>").mkString +
        "</people><other>x</other></site>"
      st.storeXml("c", "a.xml", xml)
      // the person step serves from the [site, people] member table
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','a.xml')/site/people/person)") === "20")
      // document order and per-member navigation survive
      assert(JsoniqRun.serialize(st,
        "for $p in jn:doc('c','a.xml')/site/people/person " +
          "return $p/name/text()")
        === (1 to 20).map(i => s""""p$i"""").mkString(" "))
      // a chain naming the parent element itself stays on the walk path
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','a.xml')/site/people)") === "1")
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','a.xml')/site/other)") === "1")
    }
  }

  test("unboxing a shredded XML element sequence matches the walk (empty)") {
    withShredded { st =>
      val xml = "<site><people>" +
        (1 to 20).map(i => s"<person><n>p$i</n></person>").mkString +
        "</people></site>"
      st.storeXml("c", "u.xml", xml)
      // elements are OBJECTS in the XmlItem encoding: `[]` over them is
      // the empty sequence under the walk path — the shred must not
      // change that answer (the member fast path is JSON-chains only)
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','u.xml')/site/people/person[])") === "0")
      // the element step itself still serves from the member table
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','u.xml')/site/people/person)") === "20")
    }
  }

  test("XML member predicates compile onto the typed columns") {
    withShredded { st =>
      val xml = "<site><people>" +
        (1 to 20).map(i =>
          s"""<person id="p$i"><name>n$i</name><age>${18 + i}</age></person>""")
          .mkString + "</people></site>"
      st.storeXml("c", "t.xml", xml)
      // the table carries the element name and the typed projection:
      // sampled child texts type to BIGINT, attributes to @-fields
      val df = spark.read.parquet(s"${st.baseDir}/c/t.xml/_shred/r1/s0")
      assert(df.columns.contains("n") && df.columns.contains("t"),
        df.columns.mkString(","))
      val t = df.schema("t").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(t("age").dataType.typeName == "long", t.treeString)
      assert(t.fieldNames.contains("@id"), t.treeString)
      // numeric child-text predicate (ages 19..38 — 9 at >= 30)
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','t.xml')/site/people/person" +
          "[?xs:integer($$/age/text()) ge 30])") === "9")
      // string predicates over attribute and child text
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','t.xml')/site/people/person" +
          "[?starts-with($$/name/text(), 'n1')])") === "11")
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','t.xml')/site/people/person" +
          "[?$$/name/text() eq 'n7'])") === "1")
      // the count's plan reads ONLY typed parquet columns — the member
      // variant never decodes
      val plan = JsoniqRun.run(st,
        "count(jn:doc('c','t.xml')/site/people/person" +
          "[?xs:integer($$/age/text()) ge 30])")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("member"), plan)
      // the for+where form fuses onto the same typed columns
      assert(JsoniqRun.serialize(st,
        "for $p in jn:doc('c','t.xml')/site/people/person " +
          "where xs:integer($p/age/text()) ge 36 " +
          "return $p/name/text()") === "\"n18\" \"n19\" \"n20\"")
      // `at $p` keeps the BINDING ordinal (the fusion declines; the
      // window-ranked path serves)
      assert(JsoniqRun.serialize(st,
        "for $p at $i in jn:doc('c','t.xml')/site/people/person " +
          "where xs:integer($p/age/text()) ge 36 return $i")
        === "18 19 20")
    }
  }

  test("index scans over a shredded document match the unshredded walk") {
    // the same document stored shredded (min=1) and unshredded must
    // answer every scan family identically — the shredded plan serves
    // member hits DISTRIBUTED (JsonMemberScan) with skeleton hits
    // interleaved at their document-order slots
    val doc2 = """{"meta": {"v": 99, "name": "corpus"}, "items": [""" +
      (1 to 20).map(i => s"""{"v": $i, "name": "n$i"}""").mkString(",") +
      """], "tail": {"v": 100}}"""
    val queries = Seq(
      // path scan: hits inside members AND in the skeleton (meta/tail)
      """for $n in jn:scan-path-index(jn:doc('c','s.jn'), 0, '//v')
        |return $n""".stripMargin,
      // cas scan over the member class
      """for $n in jn:scan-cas-index(jn:doc('c','s.jn'), 0, 'n2', '==', '/items/[]/name')
        |return {"n": $n, "p": sdb:path(sdb:select-parent($n))}""".stripMargin,
      // cas range scan
      """for $n in jn:scan-cas-index-range(jn:doc('c','s.jn'), 0, 5, 8, true(), false(), '/items/[]/v')
        |return $n""".stripMargin,
      // name scan: member keys + skeleton keys, document order
      """for $n in jn:scan-name-index(jn:doc('c','s.jn'), 0, 'v')
        |return $n""".stripMargin,
      // name scan with path stash
      """for $n in jn:scan-name-index(jn:doc('c','s.jn'), 0, 'name')
        |return sdb:path($n)""".stripMargin,
      // a pattern matching the shredded array NODE itself needs the
      // elided members — the NeedFullWalk fallback answers identically
      """jn:scan-path-index(jn:doc('c','s.jn'), 0, '/items/[]')""")
    val plain = {
      val st = new JsoniqRun.Store(spark,
        java.nio.file.Files.createTempDirectory("scan-plain").toString)
      st.store("c", "s.jn", doc2)
      assert(!st.shredExists("c", "s.jn", None))
      queries.map(JsoniqRun.serialize(st, _))
    }
    withShredded { st =>
      st.store("c", "s.jn", doc2)
      assert(st.shredExists("c", "s.jn", None))
      queries.zip(plain).foreach { case (q, want) =>
        assert(JsoniqRun.serialize(st, q) === want, q)
      }
    }
  }

  test("scan hits on ANCESTORS of a shredded array fall back faithfully") {
    // a hit whose content contains the elided members cannot serialize
    // from the skeleton — path and name scans must take the full-walk
    // fallback and still print the members
    val doc2 = """{"wrap": {"items": [""" +
      (1 to 20).map(i => s"""{"v": $i}""").mkString(",") +
      """], "tag": "x"}, "z": 1}"""
    val queries = Seq(
      "jn:scan-path-index(jn:doc('c','w.jn'), 0, '/wrap')",
      "for $n in jn:scan-name-index(jn:doc('c','w.jn'), 0, 'wrap') return $n",
      // the shredded array NODE itself as a cas-free path hit
      "count(jn:scan-path-index(jn:doc('c','w.jn'), 0, '/wrap/items/[]'))")
    val plain = {
      val st = new JsoniqRun.Store(spark,
        java.nio.file.Files.createTempDirectory("scan-anc").toString)
      st.store("c", "w.jn", doc2)
      queries.map(JsoniqRun.serialize(st, _))
    }
    withShredded { st =>
      st.store("c", "w.jn", doc2)
      assert(st.shredExists("c", "w.jn", None))
      queries.zip(plain).foreach { case (q, want) =>
        assert(JsoniqRun.serialize(st, q) === want, q)
      }
    }
  }

  test("CAS scans hit SCALAR members of a shredded array") {
    // a pattern naming the array's own class (chain + []) matches the
    // bare scalar members — the member part must run the walk, never
    // classify them as unreachable (review finding: NoMemberHits ate
    // every scalar-member hit)
    val doc2 = """{"nums": [""" + (1 to 20).mkString(",") + """]}"""
    val queries = Seq(
      "count(jn:scan-cas-index-range(jn:doc('c','n.jn'), 0, 5, 9, " +
        "true(), true(), '/nums/[]'))",
      "count(jn:scan-cas-index(jn:doc('c','n.jn'), 0, '7', '==', " +
        "'/nums/[]'))")
    val plain = {
      val st = new JsoniqRun.Store(spark,
        java.nio.file.Files.createTempDirectory("scan-scal").toString)
      st.store("c", "n.jn", doc2)
      queries.map(JsoniqRun.serialize(st, _))
    }
    assert(plain === Seq("5", "1"))
    withShredded { st =>
      st.store("c", "n.jn", doc2)
      assert(st.isShredded("c", "n.jn"))
      queries.zip(plain).foreach { case (q, want) =>
        assert(JsoniqRun.serialize(st, q) === want, q)
      }
    }
  }

  test("CAS point scans compare NUMERICALLY when the key is numeric") {
    // the reference casts the search key to the index content type and
    // compares typed Atomics (index/cas/CASFilter.java:24-47): with key
    // 9, value 10 matches '>' (numeric) even though "10" < "9"
    // lexicographically — on BOTH the typed-column arm (/items/[]/v)
    // and the distributed walker arm (scalar /nums/[] members, where
    // "bar" is never in a numeric index). String keys stay
    // lexicographic.
    val doc2 = """{"items": [""" +
      (1 to 20).map(i => s"""{"v": $i, "name": "n$i"}""").mkString(",") +
      """], "nums": [10, 9, 2, "bar", 100]}"""
    val queries = Seq(
      "for $n in jn:scan-cas-index(jn:doc('c','tc.jn'), 0, 9, '>', " +
        "'/items/[]/v') return $n",
      "count(jn:scan-cas-index(jn:doc('c','tc.jn'), 0, 15, '<=', " +
        "'/items/[]/v'))",
      // scale-insensitive numeric equality (2.0 == 2)
      "for $n in jn:scan-cas-index(jn:doc('c','tc.jn'), 0, 2.0, '==', " +
        "'/items/[]/v') return $n",
      // scalar members: generic walk, unparseable candidate never matches
      "for $n in jn:scan-cas-index(jn:doc('c','tc.jn'), 0, 9, '>=', " +
        "'/nums/[]') return $n",
      // string key: lexicographic (n20 and n3..n9 follow 'n2')
      "for $n in jn:scan-cas-index(jn:doc('c','tc.jn'), 0, 'n2', '>', " +
        "'/items/[]/name') return $n")
    val want = Seq(
      (10 to 20).mkString(" "),
      "15",
      "2",
      "10 9 100",
      ((3 to 9).map(i => s""""n$i"""") :+ "\"n20\"").mkString(" "))
    val plain = {
      val st = new JsoniqRun.Store(spark,
        java.nio.file.Files.createTempDirectory("scan-num").toString)
      st.store("c", "tc.jn", doc2)
      queries.map(JsoniqRun.serialize(st, _))
    }
    assert(plain === want)
    withShredded { st =>
      st.store("c", "tc.jn", doc2)
      assert(st.isShredded("c", "tc.jn"))
      queries.zip(want).foreach { case (q, w) =>
        assert(JsoniqRun.serialize(st, q) === w, q)
      }
      // the numeric typed arm really is the typed-column plan: it reads
      // idx + t.v, never the member variant
      val plan = JsoniqRun.run(st,
        "count(jn:scan-cas-index(jn:doc('c','tc.jn'), 0, 9, '>', " +
          "'/items/[]/v'))").queryExecution.executedPlan.toString
      assert(plan.contains("struct<v:bigint>") && !plan.contains("member"),
        plan)
    }
  }

  test("over-cap documents: member-concrete CAS scans serve, others fail loudly") {
    val prevCap = sys.props.get("graft.scan.maxDriverBytes")
    sys.props("graft.scan.maxDriverBytes") = "1" // every doc is over-cap
    try withShredded { st =>
      val doc2 = """{"items": [""" +
        (1 to 20).map(i => s"""{"v": $i}""").mkString(",") + "]}"
      st.store("c", "cap.jn", doc2)
      // concrete member path: distributed, no skeleton, no driver doc
      assert(JsoniqRun.serialize(st,
        "count(jn:scan-cas-index(jn:doc('c','cap.jn'), 0, '15', '==', " +
          "'/items/[]/v'))") === "1")
      assert(JsoniqRun.serialize(st,
        "count(jn:scan-cas-index-range(jn:doc('c','cap.jn'), 0, " +
          "5, 9, true(), true(), '/items/[]/v'))") === "5")
      // PATH scans strictly inside the members serve distributed too
      assert(JsoniqRun.serialize(st,
        "count(jn:scan-path-index(jn:doc('c','cap.jn'), 0, " +
          "'/items/[]/v'))") === "20")
      assert(JsoniqRun.serialize(st,
        "for $n in jn:scan-path-index(jn:doc('c','cap.jn'), 0, " +
          "'/items/[]/v') return $n") === (1 to 20).mkString(" "))
      // chain + [] matches the shredded array NODE itself — that hit
      // lives in the skeleton, so it must stay loud at the cap
      val e0 = intercept[Exception](JsoniqRun.serialize(st,
        "count(jn:scan-path-index(jn:doc('c','cap.jn'), 0, " +
          "'/items/[]'))"))
      assert(Option(e0.getMessage).exists(_.contains("driver-walk cap")) ||
        (e0.getCause != null &&
          Option(e0.getCause.getMessage).exists(_.contains("driver-walk cap"))),
        e0.toString)
      // a pattern needing the skeleton fails loudly at the cap
      val e = intercept[Exception](JsoniqRun.serialize(st,
        "count(jn:scan-path-index(jn:doc('c','cap.jn'), 0, '//v'))"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("driver-walk cap")),
        msgs(e).mkString(" | "))
    } finally {
      prevCap match {
        case Some(v2) => sys.props("graft.scan.maxDriverBytes") = v2
        case None => sys.props.remove("graft.scan.maxDriverBytes"); ()
      }
      ()
    }
  }

  test("sdb:commit copies the head revision and its shred sidecar") {
    withShredded { st =>
      st.store("c", "d.jn", doc)
      assert(JsoniqRun.serialize(st,
        "sdb:commit(jn:doc('c','d.jn'))") === "2")
      // the copy carries the shred (file copy, marker-gated) and serves
      // identically to the source revision
      assert(st.shredExists("c", "d.jn", Some(2)))
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','d.jn', 2)[][?$$.v gt 15])") === "5")
      assert(JsoniqRun.serialize(st, "jn:doc('c','d.jn', 2)")
        === JsoniqRun.serialize(st, "jn:doc('c','d.jn', 1)"))
    }
  }

  test("let-bound document handles serve chains from the shred") {
    withShredded { st =>
      val obj = """{"items": [""" +
        (1 to 20).map(i => s"""{"v": $i}""").mkString(",") + "]}"
      st.store("c", "lh.jn", obj)
      // the chain resolves THROUGH the let's static target; the
      // pointwise compiler declines (in-row would funnel the member
      // table through one task) and the row machinery serves members
      assert(JsoniqRun.serialize(st,
        "let $d := jn:doc('c','lh.jn') " +
          "return count($d.items[][?$$.v gt 15])") === "5")
      assert(JsoniqRun.serialize(st,
        "let $d := jn:doc('c','lh.jn') " +
          "for $m in $d.items where $m.v gt 17 return $m.v") === "18 19 20")
      val plan = JsoniqRun.run(st,
        "let $d := jn:doc('c','lh.jn') " +
          "return count($d.items[][?$$.v gt 15])")
        .queryExecution.executedPlan.toString
      assert(plan.contains("struct<v:bigint>"), plan)
      // XML via a let-bound handle
      val xml = "<site><people>" +
        (1 to 20).map(i => s"<person><n>p$i</n></person>").mkString +
        "</people></site>"
      st.storeXml("c", "lh.xml", xml)
      assert(JsoniqRun.serialize(st,
        "let $a := jn:doc('c','lh.xml') " +
          "return count($a/site/people/person)") === "20")
    }
  }

  test("sample-missed fields trigger the corrective typed pass") {
    withShredded { st =>
      // 5000 members, spread-sample step 2 hits only EVEN indices; the
      // `extra` field exists only on ODD members — the write-time
      // observe() metric must catch the miss and redo the typed
      // projection with the exact schema
      val n = 5000
      val doc = (0 until n).map(i =>
          if (i % 2 == 1) s"""{"v": $i, "extra": $i}"""
          else s"""{"v": $i}""")
        .mkString("[", ",", "]")
      st.store("c", "x.jn", doc)
      val t = spark.read.parquet(s"${st.baseDir}/c/x.jn/_shred/r1/s0")
        .schema("t").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(t.fieldNames.toSet == Set("v", "extra"), t.treeString)
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','x.jn')[][?$$.extra gt 4000])") === "500")
    }
  }

  test("a PARTIAL shred (no completion marker) is never served") {
    withShredded { st =>
      st.store("c", "p.jn", doc)
      // simulate a crash mid-shred-write: task outputs present, marker
      // absent (v2-committer failure mode) — readers must fall back to
      // the authoritative doc row, not serve a partial member set
      graft.sources.MetaIO.delete(
        s"${st.baseDir}/c/p.jn/_shred/r1/${st.ShredCompleteMarker}",
        recursive = false)
      assert(!st.shredExists("c", "p.jn", None))
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','p.jn')[])") === "20")
    }
  }

  test("for+where fuses into the typed scan and agrees with [?pred]") {
    withShredded { st =>
      st.store("c", "d.jn", doc)
      val a = JsoniqRun.serialize(st,
        "for $m in jn:doc('c','d.jn') where $m.v gt 17 return $m.v")
      assert(a === "18 19 20")
      // conjunction over two typed fields
      val b = JsoniqRun.serialize(st,
        "for $m in jn:doc('c','d.jn') where $m.v gt 10 and $m.w eq 0 " +
          "return $m.v")
      assert(b === "12 15 18")
    }
  }

  test("at $p ordinals stay ABSOLUTE under the fused where") {
    withShredded { st =>
      st.store("c", "d.jn", doc)
      // member 18 sits at ordinal 18 regardless of the filter
      assert(JsoniqRun.serialize(st,
        "for $m at $p in jn:doc('c','d.jn') where $m.v gt 17 return $p")
        === "18 19 20")
    }
  }

  test("arithmetic where compiles onto the typed columns (no variant read)") {
    withShredded { st =>
      st.store("c", "d.jn", doc)
      assert(JsoniqRun.serialize(st,
        "for $m in jn:doc('c','d.jn') where $m.v + 1 gt 19 return $m.v")
        === "19 20")
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','d.jn')[][?$$.v + 1 gt 19])") === "2")
      // the count's scan reads ONLY the typed field — no variant column
      val plan = JsoniqRun.run(st,
        "count(jn:doc('c','d.jn')[][?$$.v + 1 gt 19])")
        .queryExecution.executedPlan.toString
      assert(plan.contains("struct<v:bigint>") && !plan.contains("member"),
        plan)
      // negated / multiplied forms
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','d.jn')[][?$$.v * 2 ge 38])") === "2")
    }
  }

  test("string predicates push into the typed scan") {
    withShredded { st =>
      val sdoc = (1 to 20).map(i => s"""{"v": $i, "s": "name-$i"}""")
        .mkString("[", ",", "]")
      st.store("c", "s.jn", sdoc)
      assert(JsoniqRun.serialize(st,
        "for $m in jn:doc('c','s.jn') where starts-with($m.s, 'name-2') return $m.v")
        === "2 20")
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','s.jn')[][?contains($$.s, '-1')])") === "11")
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','s.jn')[][?ends-with($$.s, '0')])") === "2")
      // StringStartsWith reaches the parquet scan as a pushed filter
      val plan = JsoniqRun.run(st,
        "count(jn:doc('c','s.jn')[][?starts-with($$.s, 'name-2')])")
        .queryExecution.executedPlan.toString
      assert(plan.contains("StringStartsWith"), plan)
    }
  }

  test("where beyond the typed subset falls back and still answers") {
    withShredded { st =>
      st.store("c", "d.jn", doc)
      // division stays variant-path (zero-divisor semantics differ)
      assert(JsoniqRun.serialize(st,
        "for $m in jn:doc('c','d.jn') where $m.v div 2 ge 9.5 return $m.v")
        === "19 20")
    }
  }

  test("updates commit past the shredded revision; time travel serves both") {
    withShredded { st =>
      st.store("c", "d.jn", doc)
      JsoniqRun.serialize(st,
        """replace json value of jn:doc('c','d.jn')[0] with {"v": 100, "w": 0}""")
      // head (revision 2, no shred) reflects the update
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','d.jn')[][?$$.v gt 15])") === "6")
      // revision 1 still serves from its shred
      assert(JsoniqRun.serialize(st,
        "count(jn:doc('c','d.jn', 1)[][?$$.v gt 15])") === "5")
    }
  }

  // ---- the commit's crash contract --------------------------------------

  private val xmlDoc = "<site><people>" +
    (1 to 20).map(i =>
      s"""<person id="p$i"><name>n$i</name><age>${18 + i}</age></person>""")
      .mkString + "</people></site>"

  /** The two document kinds: a JSON root array and an XML document, each
    * with its store call and a query the doc row and the shred agree on. */
  private val kinds: Seq[(String, (JsoniqRun.Store, String) => Unit, String)] = Seq(
    ("d.jn", (st, d) => st.store("c", d, doc), "count(jn:doc('c','d.jn')[][?$$.v gt 15])"),
    ("a.xml", (st, d) => { st.storeXml("c", d, xmlDoc); () },
      "count(jn:doc('c','a.xml')/site/people/person[?xs:integer($$/age/text()) ge 30])"))
  private val answers = Map("d.jn" -> "5", "a.xml" -> "9")

  private def tmpDirs(shredRoot: String): Seq[String] =
    Option(new java.io.File(shredRoot).list()).toSeq.flatten
      .filter(_.startsWith(".tmp-"))

  test("crash contract: a failing doc-row commit rethrows, leaves no temp dir and no revision") {
    withShredMin {
      spark.sparkContext.hadoopConfiguration
        .set("fs.shredfail.impl", classOf[CommitLogFailFs].getName)
      kinds.foreach { case (d, store, _) =>
        val local = java.nio.file.Files.createTempDirectory("graft-shred-fail").toString
        val st = new JsoniqRun.Store(spark, s"shredfail://$local")
        val e = intercept[java.io.IOException](store(st, d))
        assert(e.getMessage.contains("injected commit-log failure"), d)
        assert(tmpDirs(s"$local/c/$d/_shred").isEmpty, d)
        assert(!new java.io.File(s"$local/c/$d/_shred/r1").exists, d)
        assert(st.headRevision("c", d).isEmpty, d)
      }
    }
  }

  test("crash contract: a failing member write still commits and reads serve the doc row") {
    kinds.foreach { case (d, store, q) =>
      withShredded { st =>
        // a plain file where the revision's sidecar directory must go
        val root = new java.io.File(s"${st.baseDir}/c/$d/_shred")
        root.mkdirs()
        new java.io.File(root, "r1").createNewFile()
        store(st, d)
        assert(st.headRevision("c", d) === Some(1), d)
        assert(!new java.io.File(root, "r1").exists, d)
        assert(tmpDirs(root.toString).isEmpty, d)
        assert(!st.isShredded("c", d), d)
        assert(JsoniqRun.serialize(st, q) === answers(d), d)
      }
    }
  }

  test("crash contract: an aged temp dir is swept, a fresh one is kept") {
    kinds.foreach { case (d, store, q) =>
      withShredded { st =>
        store(st, d)
        val root = new java.io.File(s"${st.baseDir}/c/$d/_shred")
        val aged = new java.io.File(root, ".tmp-aged")
        new java.io.File(aged, "s0").mkdirs()
        assert(aged.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
        val fresh = new java.io.File(root, ".tmp-fresh")
        new java.io.File(fresh, "s0").mkdirs()
        store(st, d)
        assert(!aged.exists, d)
        assert(fresh.exists, d)
        assert(st.headRevision("c", d) === Some(2), d)
        assert(st.isShredded("c", d), d)
        assert(JsoniqRun.serialize(st, q) === answers(d), d)
      }
    }
  }

  test("crash contract: a member-local commit whose sidecar fails serves the head by reconstruction") {
    val obj = """{"meta": {"name": "corpus"}, "items": [""" +
      (1 to 30).map(i => s"""{"v": $i, "w": {"x": ${i % 3}}}""").mkString(",") +
      """], "tags": [""" + (1 to 20).map(i => s""""t$i"""").mkString(",") + "]}"
    val update = "replace json value of jn:doc('c','m').items[3].v with 999"
    val want = {
      val plain = new JsoniqRun.Store(spark,
        java.nio.file.Files.createTempDirectory("graft-shred-plain").toString)
      plain.store("c", "m", obj)
      JsoniqRun.serialize(plain, update)
      JsoniqRun.serialize(plain, "jn:doc('c','m')")
    }
    withShredded { st =>
      st.store("c", "m", obj)
      new java.io.File(s"${st.baseDir}/c/m/_shred/r2").createNewFile()
      JsoniqRun.serialize(st, update)
      assert(st.headRevision("c", "m") === Some(2))
      assert(st.isMemberLocalCommit("c", "m", 2))
      assert(!new java.io.File(s"${st.baseDir}/c/m/_shred/r2").exists)
      assert(!st.isShredded("c", "m"))
      assert(JsoniqRun.serialize(st, "jn:doc('c','m')") === want)
      assert(JsoniqRun.serialize(st, "jn:doc('c','m').items[3].v") === "999")
    }
  }

  // ---- the on-disk layout, pinned -----------------------------------------

  /** One revision's shred sidecar as text: the `_meta.json` content, the
    * sidecar root's entries, and per member table its schema, row count
    * and a digest of its rows (every column, as JSON, sorted). */
  private def layoutOf(st: JsoniqRun.Store, d: String, rev: Int)
      : (String, Seq[String], Seq[(String, String, Int, String)]) = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    import spark.implicits._
    val dir = s"${st.baseDir}/c/$d/_shred/r$rev"
    val entries = new java.io.File(dir).list().toSeq.sorted
    val tables = entries.filter(_.matches("s\\d+")).map { sub =>
      val df = spark.read.parquet(s"$dir/$sub")
      val lines = df.select(to_json(struct(df.columns.toSeq.map(col): _*)))
        .as[String].collect().toSeq.sorted
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(lines.mkString("\n").getBytes("UTF-8")).take(8)
        .map("%02x".format(_)).mkString
      (sub, df.schema.simpleString, lines.size, digest)
    }
    (graft.sources.MetaIO.readString(s"$dir/_meta.json"), entries, tables)
  }

  test("layout pin: root-array JSON sidecar") {
    withShredded { st =>
      val arr = (1 to 40).map(i =>
        if (i % 10 == 0) s"""{"v": $i, "s": "x$i", "n": [$i, {"k": null}]}"""
        else s"""{"v": $i, "w": ${i % 3}, "f": ${i * 0.5}, "s": "x$i"}""")
        .mkString("[", ",", "]")
      st.store("c", "r.jn", arr)
      val got = layoutOf(st, "r.jn", 1)
      assert(got === PINNED_ROOT, s"\n$got")
    }
  }

  test("layout pin: object-rooted JSON sidecar") {
    withShredded { st =>
      val obj = """{"meta": {"name": "corpus"}, "items": [""" +
        (1 to 30).map(i => s"""{"v": $i, "w": {"x": ${i % 3}}, "t": "i$i"}""")
          .mkString(",") +
        """], "tags": [""" + (1 to 20).map(i => s""""t$i"""").mkString(",") +
        """], "small": [1, 2], "tail": 9}"""
      st.store("c", "o.jn", obj)
      val got = layoutOf(st, "o.jn", 1)
      assert(got === PINNED_OBJECT, s"\n$got")
    }
  }

  test("layout pin: XML sidecar") {
    withShredded { st =>
      // two qualifying lists, one chain repeated (not addressable, so not
      // shredded) and one list too short to qualify
      val xml = "<site><people>" +
        (1 to 20).map(i =>
          s"""<person id="p$i"><name>n$i</name><age>${18 + i}</age></person>""")
          .mkString + "</people><items>" +
        (1 to 18).map(i => s"""<item k="$i">v${i * 7}</item>""").mkString +
        "</items><regions>" +
        (1 to 2).map(_ => "<r>" + (1 to 16).map(j => s"<x>$j</x>").mkString + "</r>")
          .mkString + "</regions><few><y>1</y><y>2</y></few></site>"
      st.storeXml("c", "x.xml", xml)
      val got = layoutOf(st, "x.xml", 1)
      assert(got === PINNED_XML, s"\n$got")
    }
  }

  // pinned from the store paths before they shared one commit
  private val sidecarFiles =
    Seq("._graft_shredded.crc", "._meta.json.crc", "_graft_shredded", "_meta.json")
  private val PINNED_ROOT = (
    """[{"dir":"s0","kind":"json","steps":[]}]""",
    sidecarFiles :+ "s0",
    Seq(("s0", "struct<idx:bigint,member:variant,member_raw:string,__nk_n:bigint," +
      "t:struct<f:double,n:array<variant>,s:string,v:bigint,w:bigint>>", 40, "e7d7cab8ae1e17d8")))
  private val PINNED_OBJECT = (
    """[{"dir":"s0","kind":"json","steps":["items"]},""" +
      """{"dir":"s1","kind":"json","steps":["tags"]}]""",
    sidecarFiles ++ Seq("s0", "s1"),
    Seq(("s0", "struct<idx:bigint,member:variant,member_raw:string,__nk_n:bigint," +
        "t:struct<t:string,v:bigint,w:struct<x:bigint>>>", 30, "0e5ab1435f9246b3"),
      ("s1", "struct<idx:bigint,member:variant,member_raw:string,__nk_n:bigint>",
        20, "1c53cbbdb8378264")))
  private val PINNED_XML = (
    """[{"dir":"s0","kind":"xml","steps":["site","people"]},""" +
      """{"dir":"s1","kind":"xml","steps":["site","items"]}]""",
    sidecarFiles ++ Seq("s0", "s1"),
    Seq(("s0", "struct<idx:bigint,member:variant,n:string," +
        "t:struct<@id:string,name:string,age:bigint>>", 20, "dd71a58e4c9f07d0"),
      ("s1", "struct<idx:bigint,member:variant,n:string,t:struct<@k:bigint>>",
        18, "a7283c56b4d2ee06")))
}
