package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.query.JsoniqRun

/** jsoniq_documents: a shredded JSON document and a smaller XML document in
  * one `JsoniqRun.Store`, queried through the JSONiq text front end. Each
  * round runs filter counts whose literals were never seen before (plan
  * cache misses), a fixed set of repeated texts, and ends with one
  * `replace json value` update commit of the JSON document. */
final class JsoniqDocuments(spark: SparkSession, seed: Long, val dir: String, trace: Tracer)
    extends Workload {
  import JsoniqDocuments._

  private val rnd = new scala.util.Random(seed)
  private val store = new JsoniqRun.Store(spark, s"$dir/store")
  /** Member i of the JSON document: (v, w thousandths, group). */
  private val w = Array.fill(Members)(rnd.nextInt(1000))
  private val g = Array.fill(Members)(rnd.nextInt(Groups))
  private val v0 = Array.fill(Members)(rnd.nextInt(1000000).toLong)
  /** v of every member, per revision of the JSON document. */
  private val vAt = scala.collection.mutable.LinkedHashMap.empty[Int, Array[Long]]
  private val ages = Array.fill(Persons)(18 + rnd.nextInt(60))
  private val point = rnd.nextInt(Members)
  private val keyed = rnd.nextInt(Members)
  private val past = rnd.nextInt(Members)
  private var keyOfKeyed = ""
  private var bytes = 0L
  private val lastPlan = scala.collection.mutable.Map.empty[String, DataFrame]

  def versionBytes: Long = bytes

  private def member(i: Int, v: Long): String =
    s"""{"id":$i,"v":$v,"w":${w(i) / 1000.0},"g":"g${g(i)}"}"""

  private def head: Array[Long] = vAt.values.last

  def setup(): Unit = {
    sys.props("graft.shred.min") = ShredMinBytes.toString
    val doc = (0 until Members).map(i => member(i, v0(i))).mkString("[", ",", "]")
    require(doc.length > ShredMinBytes, "the JSON document must be large enough to shred")
    Steps("store")(store.store("c", Doc, doc))
    vAt(1) = v0.clone()
    bytes += doc.getBytes(UTF_8).length
    Steps("create-cas-index")(JsoniqRun.serialize(store,
      s"""let $$d := jn:doc('c','$Doc') let $$s := jn:create-cas-index($$d, 'xs:double', '/[]/w')
         |return sdb:commit($$d)""".stripMargin))
    vAt(vAt.keys.last + 1) = v0.clone()
    val xml = ages.zipWithIndex.map { case (a, i) => s"<person><name>p$i</name><age>$a</age></person>" }
      .mkString("<site><people>", "", "</people></site>")
    Steps("storeXml")(store.storeXml("c", Xml, xml))
    bytes += xml.getBytes(UTF_8).length
    keyOfKeyed = JsoniqRun.serialize(store, s"sdb:nodekey(jn:doc('c','$Doc')[$keyed].v)")
  }

  /** One pass over the read classes and one update commit, so the timed
    * rounds start on warm code paths. The commit goes last, as in a round:
    * every timed round then finds the JSON document changed since its
    * texts' plans were cached, and each class is timed in one mode only. */
  def warmUp(): Unit = {
    val warm = new Harness(spark, new Tracer(false), 0)
    repeated(warm)
    missText(warm, -1)
    update(warm)
    require(warm.failed == 0, s"jsoniq_documents warm-up failed ${warm.failed} operations")
  }

  /** Run one JSONiq text: compile (or fetch the cached plan), then execute. */
  private def query(h: Harness, text: String, fresh: Boolean): Seq[String] = {
    val df = trace.span(if (fresh) "compile:new" else "compile:repeat", "query")(JsoniqRun.run(store, text))
    if (!fresh && lastPlan.get(text).exists(_ ne df)) trace.add("compile.repeat_recompiled", 1)
    lastPlan(text) = df
    h.collect(df.select("item_json"), "exec:jsoniq").map(_.getString(0)).toSeq
  }

  /** A filter count whose literal no earlier text used. */
  private def missText(h: Harness, id: Int): Unit = {
    val a = rnd.nextInt(1000)
    // w is a whole number of thousandths, so w > a.5/1000 exactly when w > a
    val lit = f"0.${a}%03d5${id + 1}%05d"
    h.op("filter_count_new", Read)(query(h, s"count(jn:doc('c','$Doc')[][?$$$$.w gt $lit])", fresh = true)) {
      got => (got, Seq(w.count(_ > a).toString))
    }
  }

  private def repeated(h: Harness): Unit = {
    val vs = head
    h.op("group_by", Read)(query(h,
      s"""for $$m in jn:doc('c','$Doc')[] let $$g := $$m.g group by $$g
         |return {"g": $$g, "n": count($$m), "s": sum($$m.v)}""".stripMargin, fresh = false)) { got =>
      (got.map(canon).sorted, (0 until Members).groupBy(i => g(i)).toSeq.map { case (k, is) =>
        canon(s"""{"g":"g$k","n":${is.size},"s":${is.map(vs(_)).sum}}""") }.sorted)
    }
    h.op("cas_index_scan", Read)(query(h,
      s"count(jn:scan-cas-index(jn:doc('c','$Doc'), 0, '0.9', '>', '/[]/w'))", fresh = false)) {
      got => (got, Seq(w.count(_ > 900).toString))
    }
    h.op("point_lookup", Read)(query(h, s"jn:doc('c','$Doc')[$point].v", fresh = false)) {
      got => (got, Seq(vs(point).toString))
    }
    // a node key stays the same across update revisions, and selecting it
    // returns the node's current value
    h.op("nodekey_select", Read) {
      query(h, s"sdb:nodekey(jn:doc('c','$Doc')[$keyed].v)", fresh = false) ++
        query(h, s"jn:select-json-item(jn:doc('c','$Doc'), $keyOfKeyed)", fresh = false)
    } { got => (got, Seq(keyOfKeyed, vs(keyed).toString)) }
    h.op("time_travel", Read)(query(h, s"jn:doc('c','$Doc', 1)[$past].v", fresh = false)) {
      got => (got, Seq(vAt(1)(past).toString))
    }
    h.op("xml_filter_count", Read)(query(h,
      s"count(jn:doc('c','$Xml')/site/people/person[?xs:integer($$$$/age/text()) ge 60])", fresh = false)) {
      got => (got, Seq(ages.count(_ >= 60).toString))
    }
  }

  def round(h: Harness, r: Int): Unit = {
    (0 until MissesPerRound).foreach(i => missText(h, r * MissesPerRound + i))
    repeated(h)
    update(h)
  }

  /** One `replace json value` commit of a member's `v`. */
  private def update(h: Harness): Unit = {
    val i = rnd.nextInt(Members)
    val nv = rnd.nextInt(1000000).toLong
    h.op("update_commit", Commit) {
      trace.span("update:replace-json-value", "query") {
        JsoniqRun.run(store, s"replace json value of jn:doc('c','$Doc')[$i].v with $nv").collect().length
      }
    } { n => (Seq(s"items $n"), Seq("items 0")) }.foreach { _ =>
      val next = head.clone()
      next(i) = nv
      vAt(vAt.keys.last + 1) = next
      bytes += member(i, nv).getBytes(UTF_8).length
    }
  }
}

object JsoniqDocuments {
  val Doc = "doc.jn"
  val Xml = "people.xml"
  val Members = 10000
  val Groups = 16
  val Persons = 3000
  /** The member-table layout serves documents from this size on. */
  val ShredMinBytes = 128 * 1024
  val MissesPerRound = 4

  private val mapper = new ObjectMapper().configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  /** A JSON text with object keys sorted, for order-free comparison. */
  def canon(json: String): String =
    mapper.writeValueAsString(mapper.readValue(json, classOf[java.util.Map[String, Object]]))
}
