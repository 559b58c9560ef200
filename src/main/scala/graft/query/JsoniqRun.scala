package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JSONiq-subset front end, part 2: compile the [[Jsoniq]] AST onto
  * DataFrame operators (reference: Brackit compile chain,
  * bundles/sirix-query/src/main/java/io/sirix/query/SirixCompileChain
  * .java:425-446; the JSON item/sequence semantics follow
  * JsonIntegrationTest.java's pinned behaviour).
  *
  * Execution model — everything is a declarative Spark plan:
  *
  *  - a '''tuple stream''' (FLWOR binding tuples) is a DataFrame with an
  *    `__ord: array<long>` order vector plus one variant column per
  *    bound variable (`let`-bound sequences ride as `array<variant>`);
  *  - an '''expression''' evaluates against a tuple stream to the same
  *    stream plus (`__pos: array<long>`, `__item: variant`) — one row
  *    per item of the result sequence, order vectors concatenated so
  *    nested explosions stay document-ordered without a global sort;
  *  - `for` = explode (one narrow transform), `where` = filter,
  *    `order by` = sort, aggregates = groupBy on the order vector.
  *
  * Items are Spark VARIANT values: deref is `variant_get`, unboxing is
  * `posexplode(cast(v AS array<variant>))`, construction round-trips
  * through JSON text — all Catalyst expressions, so a `for` over a
  * billion-member array distributes like any explode; simple
  * predicates/arithmetic compile to join-free pointwise Columns. The
  * driver only assembles plans; [[serialize]] collects purely for the
  * differential test harness.
  *
  * Store surface: `jn:store`/`jn:load` commit revisions of a temporal
  * table, `jn:doc(c,d[,rev])` and `jn:all-times` time-travel through
  * them, the XQUF update statements ([[JsoniqUpdate]]) collect
  * per-binding-tuple pointers and commit; `jn:scan-path-index` /
  * `jn:scan-cas-index` serve through the calibrated sirix path-class
  * walk ([[JsonPath]]) with per-hit path/revision stashes behind
  * `sdb:path`/`sdb:select-parent`/`sdb:revision`/`jn:previous`/
  * `sdb:hash`. XML rides the same item model ([[XmlItem]]) under the
  * XPath-lite steps.
  *
  * One deliberate deviation, a canonicalisation: objects serialize
  * with SORTED keys (the variant encoding's canonical form — the
  * differential specs normalise the reference's pinned strings the same
  * way). `sdb:nodekey` returns REAL sirix-compatible node keys for
  * stored JSON ([[NodeKeys]] — fused preorder at store time, stable
  * across update-derived revisions); XML node identity stays outside
  * the value model. Descendant deref (`=>>`), descendant element
  * steps, and the index-scan walks traverse arbitrary-depth subtrees —
  * recursion no Catalyst expression expresses — via Jackson walks (the
  * StAX-shredder escape hatch); update/scan pointer collection is
  * driver-side and bounded by the matched tuples, the reference's own
  * transaction discipline. */
object JsoniqRun {

  private val ORD = "__ord"
  private val POS = "__pos"
  private val ITEM = "__item"

  /** Run-translation CASE depth past which the remap flattens into a
    * broadcast range join: a deeper CASE blows the 64KB codegen method
    * limit and falls back to interpreted eval on the hot serving path.
    * Overridable for specs via -Dgraft.runcase.max. */
  private[query] def RunCaseMax: Int =
    sys.props.get("graft.runcase.max").map(_.toInt).getOrElse(64)

  /** Compiled-plan cache bound per [[Store]] (least recently used out). */
  private[query] val PlanCacheCap = 64

  private[query] sealed trait Binding
  /** A `for`-bound item. `pointer` is set when the binding iterates a
    * STATICALLY pathable document source (jn:doc + literal steps,
    * possibly via static lets): (collection, doc, steps-to-the-array,
    * 1-based-position column) — update statements resolve their targets
    * through it per tuple. */
  private[query] final case class ItemVar(
      colName: String,
      pointer: Option[(String, String, List[Either[String, Int]], String)] =
        None,
      aux: Map[String, String] = Map.empty) extends Binding
  /** A `let`-bound sequence. `staticTarget` keeps the resolved document
    * path when the value is one, so `$doc[$i]` update targets resolve
    * through the let. */
  private[query] final case class SeqVar(
      colName: String,
      staticTarget: Option[JsoniqUpdate.StaticTarget] = None) extends Binding

  /** A variable bound inside a Spark higher-order-function lambda (the
    * [[pointwiseSeq]] compiler): the Column IS the lambda variable, not
    * a frame column. Item = one variant; Seq = array<variant>. */
  private final case class LambdaItem(c: Column) extends Binding
  private final case class LambdaSeq(c: Column) extends Binding

  /** Marker binding (under [[BIG]]): the tuple stream has a data-bound
    * (shred/scan) source bound upstream, so it is NOT driver-bounded —
    * joins against it must stay distributed (no broadcast hint). */
  private case object BigMark extends Binding
  private val BIG = "%bigstream"

  /** Marker binding (under [[STOREK]]): the session's store, so the
    * pointwise compilers can consult shred manifests without changing
    * their signatures. */
  private final case class StoreRef(store: Store) extends Binding
  private val STOREK = "%storeref"

  /** Compile-scope static frame: a ONE-ROW stream holding the context
    * document plus every let binding derivable from static values alone.
    * A `for` whose source's free variables all resolve here is
    * CORRELATION-FREE: the source is itemized once against this frame
    * and broadcast-joined into the tuple stream, instead of re-walking
    * the (potentially large) document once per binding tuple — the
    * XMark person/auction queries drop from O(tuples × doc) to one walk
    * plus a join, the same shape the reference's join-fusion rewrite
    * produces (bundles/sirix-query/src/main/java/io/sirix/query/
    * optimizer/walker/json/JoinFusionWalker.java). Rides the env under a
    * key no parsed variable name can collide with; bindings that shadow
    * a static name evict it ([[shadowStatic]]). */
  private[query] final case class StaticCtx(
      base: DataFrame, env: Map[String, Binding]) extends Binding

  private val STATIC = "%static"

  private def staticCtxOf(env: Map[String, Binding]): Option[StaticCtx] =
    env.get(STATIC).collect { case s: StaticCtx => s }

  /** Evict `names` from the static scope — a non-static binding is
    * shadowing them (and `"$$"` when a filter predicate rebinds the
    * context item). */
  private def shadowStatic(env: Map[String, Binding],
                           names: String*): Map[String, Binding] =
    staticCtxOf(env) match {
      case Some(sc) if names.exists(sc.env.contains) =>
        env + (STATIC -> sc.copy(env = sc.env -- names))
      case _ => env
    }

  /** Lift maximal document-walking subexpressions whose free variables
    * are ALL statically bound out of `e0`: each is evaluated ONCE on the
    * 1-row static frame, aggregated to an in-row array, broadcast onto
    * the tuple stream, and replaced by a fresh variable reference. This
    * is the front end's join decorrelation — the reference reaches the
    * same shape through ForBind fusion (bundles/sirix-query/src/main/
    * java/io/sirix/query/optimizer/walker/json/JoinFusionWalker.java);
    * here the lifted side becomes a broadcast array the pointwise
    * compilers then filter/transform per tuple in codegen. Scans and
    * side-effecting calls are never lifted (data-bound size / one-commit
    * -per-statement); document-addressable paths keep their row form so
    * update targets stay resolvable. */
  private def hoistStatic(store: Store, e0: Jsoniq.Expr, tuples0: DataFrame,
      env0: Map[String, Binding])
      : (Jsoniq.Expr, DataFrame, Map[String, Binding]) = {
    import Jsoniq._
    staticCtxOf(env0) match {
      case None => (e0, tuples0, env0)
      case Some(sc0) =>
        var cur = tuples0
        var sc = sc0
        var env = env0
        val cache = scala.collection.mutable.Map.empty[Expr, String]
        def eligible(x: Expr, shadow: Set[String]): Boolean =
          isDocWalk(x) && !containsScanCall(x) && !containsEffect(x) && {
            val fv = freeVars(x)
            fv.subsetOf(sc.env.keySet) && fv.intersect(shadow).isEmpty
          } && JsoniqUpdate.staticTargetIn(x, env).isEmpty &&
            !containsShreddedDoc(store, x, env0)
        def bind(x: Expr): Expr = VarRef(cache.getOrElseUpdate(x, {
          val s2 = evalSeq(store, x, sc.base, sc.env + (STATIC -> sc))
          val scn = gensym("h")
          val agg = s2.groupBy(col(ORD).as("__jord"))
            .agg(expr(s"transform(sort_array(collect_list(struct(" +
              s"$POS as p, to_json($ITEM) as i))), s -> parse_json(s.i))")
              .as(scn))
          // ONE materialization of the walk: the static frame is one
          // row, but its lineage holds the whole document pipeline and
          // Spark re-executes shared subplans once per referencing join
          // branch (q10's element parts re-ran the persons walk ~30x)
          val base2 = sc.base.join(agg, sc.base(ORD) === agg("__jord"), "left")
            .drop("__jord")
            .withColumn(scn, coalesce(col(scn), emptyVarr))
            .localCheckpoint(false)
          val hv = gensym("hv")
          sc = StaticCtx(base2, sc.env + (hv -> SeqVar(scn)))
          cur = cur.crossJoin(broadcast(base2.select(col(scn))))
          env = env + (hv -> SeqVar(scn)) + (STATIC -> sc)
          hv
        }))
        def walk(x: Expr, sh: Set[String]): Expr =
          if (eligible(x, sh)) bind(x)
          else x match {
            case Deref(b, f) => Deref(walk(b, sh), f)
            case ChildStep(b, n) => ChildStep(walk(b, sh), n)
            case DescStep(b, n) => DescStep(walk(b, sh), n)
            case TextStep(b) => TextStep(walk(b, sh))
            case AttrStep(b, n) => AttrStep(walk(b, sh), n)
            case DerefVar(b, n) => DerefVar(walk(b, sh), n)
            case DescendantDeref(b, f) => DescendantDeref(walk(b, sh), f)
            case Unbox(b) => Unbox(walk(b, sh))
            case ArrayIndex(b, i)
                if i.isInstanceOf[NumLit] ||
                  (i match { case Unary("-", _: NumLit) => true
                             case _ => false }) =>
              ArrayIndex(walk(b, sh), i)
            case ArrayIndex(b, i) =>
              // a non-literal bracket is an XPath-style PREDICATE: it
              // rebinds the context item per filtered member, so "$$"
              // inside it must not hoist against the outer context
              ArrayIndex(walk(b, sh), walk(i, sh + "$$"))
            case ArraySlice(b, f, u) =>
              ArraySlice(walk(b, sh), walk(f, sh), walk(u, sh))
            case FilterPred(b, pr) =>
              FilterPred(walk(b, sh), walk(pr, sh + "$$"))
            case Binary(op, l, r) => Binary(op, walk(l, sh), walk(r, sh))
            case Unary(op, v) => Unary(op, walk(v, sh))
            case Range(f, t) => Range(walk(f, sh), walk(t, sh))
            case If(c, t, e2) => If(walk(c, sh), walk(t, sh), walk(e2, sh))
            case InstanceOf(v, t) => InstanceOf(walk(v, sh), t)
            case SeqCtor(xs) => SeqCtor(xs.map(walk(_, sh)))
            case ArrayCtor(xs) => ArrayCtor(xs.map(walk(_, sh)))
            case ObjectCtor(es) => ObjectCtor(es.map {
              case Left(sp) => Left(walk(sp, sh))
              case Right((k, v)) => Right((k, walk(v, sh)))
            })
            case Call(n, as) => Call(n, as.map(walk(_, sh)))
            case Quantified(bs, pr) =>
              var s2 = sh
              val bs2 = bs.map { case (v, in) =>
                val r = (v, walk(in, s2)); s2 = s2 + v; r
              }
              Quantified(bs2, walk(pr, s2))
            case Flwor(cs, ret) =>
              var s2 = sh
              val cs2 = cs.map {
                case ForClause(v, in, pv) =>
                  val r = ForClause(v, walk(in, s2), pv)
                  s2 = s2 + v ++ pv; r
                case LetClause(v, value) =>
                  val r = LetClause(v, walk(value, s2)); s2 = s2 + v; r
                case WhereClause(w) => WhereClause(walk(w, s2))
                case OrderClause(ks) =>
                  OrderClause(ks.map(k => k.copy(key = walk(k.key, s2))))
                case g: GroupClause => g // key names, no subexpressions
                case c: CountClause => s2 = s2 + c.varName; c
              }
              Flwor(cs2, walk(ret, s2))
            case ElemCtor(n, attrs, content) =>
              ElemCtor(n,
                attrs.map { case (an, parts) => (an, parts.map {
                  case Left(t) => Left(t): Either[String, Expr]
                  case Right(v) => Right(walk(v, sh)): Either[String, Expr]
                }) },
                content.map {
                  case Left(t) => Left(t): Either[String, Expr]
                  case Right(v) => Right(walk(v, sh)): Either[String, Expr]
                })
            case other => other // literals, VarRef, ContextItem, UpdateStmt
          }
        val e1 = walk(e0, Set.empty)
        (e1, cur, env)
    }
  }

  /** One document store (jn:store / jn:doc target). Documents are
    * temporal tables of a single `doc_json` column — every re-store is a
    * new revision, so `jn:doc(c, d, rev)` time travel is the library's
    * own revision read. */
  final class Store(val spark: SparkSession, val baseDir: String) {
    private[query] def docPath(collection: String, doc: String): String = {
      require(!collection.contains("..") && !doc.contains(".."),
        "store names must not escape the store directory")
      val p = s"$baseDir/$collection/$doc"
      // plan-cache fingerprinting: record every resource a compile
      // resolves (the recorder is active only during a cacheable compile)
      val t = planTouch.get()
      if (t != null) { t += p; () }
      p
    }
    def store(collection: String, doc: String, json0: String,
              edits: Option[Seq[NodeKeys.Edit]] = None): Unit = {
      import spark.implicits._
      val json = Store.normalizeOverflowNumbers(json0)
      val path = docPath(collection, doc)
      // update-derived revisions record their edit log so node keys
      // stay stable across the chain ([[keyTreeOf]]); a fresh store
      // has no log — its keys number from 1 like the reference's
      // shredder on a new resource. The log writes INSIDE the commit
      // protocol's reservation hook: the writer learns the REAL
      // reserved number (no predicted-number race), clears any
      // crash-orphaned log parked at it, and embeds its reservation
      // token — [[readEditLog]] verifies the token against the commit
      // entry's writerId before ever replaying, so residue from a
      // writer that never committed this revision can never attach.
      // The log still lands BEFORE the revision commit (identity is
      // source of truth): a crash between log and commit leaves only an
      // orphan log at a number the reservation marker keeps skipped.
      commitShredded(path, json, shredPlan(json)) {
        graft.sources.TemporalTable.write(
          Seq(json).toDF("doc_json"), path,
          onReserve = (r, token) => {
            graft.sources.MetaIO.delete(editsPath(path, r))
            evictEditState(path, r)
            edits.foreach(es =>
              logEdits(collection, doc, r, es, Some(token).filter(_.nonEmpty)))
          })
      }
    }

    /** Commit one document revision and its member-table ("shred")
      * sidecar: the one commit path of [[store]] and [[storeXml]]. The
      * sidecar holds one row per member of each large array, under
      * `_shred/r<rev>`, so a 1M-member document distributes across
      * executors instead of unboxing ONE multi-MB variant row in a single
      * task — the Spark answer to the reference's node-store pages
      * (bundles/sirix-core/src/main/java/io/sirix/page/
      * KeyValueLeafPage.java:75, shredder service/json/shredder/
      * JsonShredder.java:49). Small documents skip it: the 1-row read is
      * already cheap, and the sidecar is a serving layout, not the
      * source of truth.
      *
      * `commitRow` is the single-task doc-row commit and returns the
      * revision; the member tables depend only on their final directory
      * name, not on the revision NUMBER, so they are written into a
      * hidden `_shred/.tmp-<uuid>` directory CONCURRENTLY with it and
      * renamed into place after.
      *
      * The crash contract:
      *  - the doc row is the source of truth. A failing `commitRow`
      *    rethrows after a BOUNDED drain of the member job (a hung job
      *    must not hold the cleanup and the original error forever; past
      *    the bound the temp delete races only a doomed writer's own
      *    directory), leaving no revision and no temp directory;
      *  - a sidecar is served only once complete ([[sealShred]]: the
      *    completion marker lands last), and a sidecar failure never
      *    fails the commit — readers fall back to the doc row;
      *  - a temp directory a hard-crashed writer orphaned is inert, never
      *    served, and swept by a later commit once it is an hour old (a
      *    concurrent writer's LIVE temp directory is younger), in one
      *    LIST;
      *  - fatal errors propagate, and the temp directory still goes. */
    private def commitShredded(path: String, json: String,
                               plan: Option[Seq[Store.ShredCandidate]])(
        commitRow: => Int): Unit = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val shredRoot = s"$path/_shred"
      val sweepBefore = System.currentTimeMillis() - 3600000L
      graft.sources.MetaIO.listDirsAged(shredRoot).foreach { case (n, mt) =>
        if (n.startsWith(".tmp-") && mt < sweepBefore)
          graft.sources.MetaIO.delete(s"$shredRoot/$n", recursive = true)
      }
      val tmp = s"$shredRoot/.tmp-${java.util.UUID.randomUUID().toString}"
      val memberJob: Option[Future[String]] =
        plan.map(cands => Future(writeShredTables(tmp, json, cands)))
      val rev =
        try commitRow
        catch {
          case e: Throwable =>
            memberJob.foreach(f =>
              scala.util.Try(Await.result(f, Duration(60, "s"))))
            graft.sources.MetaIO.delete(tmp, recursive = true)
            throw e
        }
      var tmpRenamed = memberJob.isEmpty
      try memberJob.foreach { f =>
        sealShred(path, rev, "shred", "doc-row fallback") { dst =>
          val meta = Await.result(f, Duration.Inf)
          if (!graft.sources.MetaIO.rename(tmp, dst))
            throw new java.io.IOException(s"rename $tmp -> $dst failed")
          tmpRenamed = true
          graft.sources.MetaIO.writeStringOverwrite(s"$dst/_meta.json", meta)
          writeSkeletonSidecar(path, rev, json, plan.get)
        }
      } finally {
        if (!tmpRenamed) graft.sources.MetaIO.delete(tmp, recursive = true)
      }
    }

    /** Seal one revision's shred sidecar: `body` fills
      * `shredDir(path, rev)`, then the completion marker lands LAST.
      * Readers gate on the marker, not on the directory (the
      * ProjectionIndex CompleteMarker discipline), so a crash or kill
      * mid-body — task outputs visible under a v2 committer — leaves a
      * PARTIAL sidecar that is never served. The sidecar is a serving
      * layout, not the source of truth: a non-fatal failure prints one
      * line, LOUD, not silent (ProjectionIndex's swallowed-marker
      * lesson), deletes the directory and returns — `fallback` serves
      * reads of `rev`, and the commit that made `rev` stands. */
    private def sealShred(path: String, rev: Int, label: String,
                          fallback: String)(body: String => Unit): Unit = {
      val dst = shredDir(path, rev)
      try {
        body(dst)
        graft.sources.MetaIO.writeStringOverwrite(
          s"$dst/$ShredCompleteMarker", "{}")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] $label sidecar failed for $path " +
            s"rev $rev ($fallback serves reads): ${e.getMessage}")
          graft.sources.MetaIO.delete(dst, recursive = true)
          ()
      }
    }

    /** Carry a sidecar's manifest, and its skeleton if it has one, from
      * `src` to `dst` unchanged (the copy and member-local commits keep
      * their source revision's entries and elided arrays). */
    private def copyShredMeta(src: String, dst: String): Unit = {
      graft.sources.MetaIO.copyFile(s"$src/_meta.json", s"$dst/_meta.json")
      if (graft.sources.MetaIO.exists(s"$src/_skeleton.json"))
        graft.sources.MetaIO.copyFile(s"$src/_skeleton.json",
          s"$dst/_skeleton.json")
    }

    /** The driver half of the shred: one O(bytes) streaming scan locates
      * EVERY shreddable array — the root array, the large arrays of an
      * object-rooted document (round-11: the r10 shred only fired on
      * root arrays), and the large child lists of a stored XML document
      * (the XmlItem encoding's `~c` arrays, addressed by element-name
      * chain). Fast path: a root ARRAY whose members are all below the
      * shred threshold cannot contain a nested candidate — the split
      * (which the write needs anyway) doubles as the scan, and the root
      * candidate carries it as its member spans. None = no shred (small
      * or candidate-free document). Independent of the revision number,
      * so [[commitShredded]] overlaps the table writes with the doc-row
      * commit. */
    private def shredPlan(json: String): Option[Seq[Store.ShredCandidate]] = {
      if (json.length < Store.ShredMinBytes) return None
      var w = 0
      while (w < json.length && json.charAt(w).isWhitespace) w += 1
      val preSplit: Option[Array[Long]] =
        if (w < json.length && json.charAt(w) == '[')
          Some(Store.splitTopLevelArraySpans(json))
        else None
      val rootSpans = preSplit.map(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(_))
      val cands: Seq[Store.ShredCandidate] =
        if (preSplit.exists(sp => sp.nonEmpty && sp.forall(p =>
            (p & 0xFFFFFFFFL) - (p >>> 32) < Store.ShredMinBytes)))
          Seq(Store.ShredCandidate("json", Nil, 0, json.length,
            preSplit.get.length, rootSpans))
        else Store.shredCandidates(json).map(c =>
          if (c.kind == "json" && c.steps.isEmpty) c.copy(members = rootSpans)
          else c)
      Some(cands).filter(_.nonEmpty)
    }

    /** The distributed half: write one member table per candidate under
      * `dir`, returning the manifest JSON (written by the caller at the
      * commit point, after the rename into the revision's shred dir). */
    private def writeShredTables(dir: String, json: String,
                                 cands: Seq[Store.ShredCandidate]): String = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val metaArr = mapper.createArrayNode()
      cands.zipWithIndex.foreach { case (cand, k) =>
        // member SPANS are located on the DRIVER (one O(bytes) scan —
        // a Spark-side explode would run the whole parse in one task
        // and re-execute it for range sampling), or were already by the
        // scan that found the candidate; members materialize batched on
        // executors, never one String each on the driver
        val members = cand.members match {
          case Some(spans) => Store.MemberSpans(json, spans.toArray)
          case None =>
            val sub = json.substring(cand.start, cand.end)
            Store.MemberSpans(sub, Store.splitTopLevelArraySpans(sub))
        }
        writeMembers(s"$dir/s$k", members, cand.kind)
        val e = metaArr.addObject()
        e.put("dir", s"s$k")
        e.put("kind", cand.kind)
        val st = e.putArray("steps")
        cand.steps.foreach(st.add)
      }
      mapper.writeValueAsString(metaArr)
    }

    /** Persist the document's ELIDED SKELETON next to the member
      * tables: the text with each json-chain array spliced out for a
      * `{"~graft-slot": k}` marker (k = the chain's ordinal among the
      * json entries). With it, index scans over an OVER-CAP document —
      * including NAME scans, whose skeleton hits are otherwise
      * unprovable without reading the text — serve skeleton+members
      * without ever collecting the document (reference analog: the
      * name index answers at any size, index/name/NameFilter.java:12).
      * Written only for documents at/above `graft.skeleton.sidecarMin`
      * (small docs walk on the driver anyway) and only when the
      * skeleton itself fits the scan cap (an over-cap skeleton could
      * never load). Best-effort: ambiguity with a literal marker key
      * in the data skips the write — serving falls back to the
      * doc-row walk, never to a wrong answer. */
    private def writeSkeletonSidecar(path: String, rev: Int, json: String,
                                     cands: Seq[Store.ShredCandidate]): Unit = {
      val minLen = sys.props.get("graft.skeleton.sidecarMin")
        .map(_.toLong).getOrElse(128L << 20)
      if (json.length < minLen) return
      // marker ordinal = the chain's position among the JSON entries in
      // MANIFEST order (the loader resolves chains from shredEntries);
      // splicing itself runs in start order
      val jsonCands = cands.filter(_.kind == "json")
      if (jsonCands.isEmpty) return
      val cap = sys.props.get("graft.scan.maxDriverBytes").map(_.toLong)
        .getOrElse(256L << 20)
      val sb = new java.lang.StringBuilder(1024)
      var at = 0
      jsonCands.zipWithIndex.sortBy(_._1.start).foreach { case (c, k) =>
        sb.append(json, at, c.start)
          .append("{\"").append(JsonPath.SkeletonSlotMarker)
          .append("\":").append(k).append("}")
        at = c.end
      }
      sb.append(json, at, json.length)
      val text = sb.toString
      if (text.length > cap) return
      // ambiguity guard: the data itself must not contain the marker
      // key — exactly one occurrence per spliced slot
      var occ = 0
      var i = text.indexOf("\"" + JsonPath.SkeletonSlotMarker + "\"")
      while (i >= 0) {
        occ += 1
        i = text.indexOf("\"" + JsonPath.SkeletonSlotMarker + "\"", i + 1)
      }
      if (occ != jsonCands.length) return
      graft.sources.MetaIO.writeStringOverwrite(
        s"${shredDir(path, rev)}/_skeleton.json", text)
    }

    /** One member table: (`idx`, `member` variant[, `t` typed]). TYPED
      * columns when the members share an inferrable object schema (the
      * training-corpus shape): predicates over member fields then
      * compile to plain parquet columns — pushed filters, column
      * pruning, no per-row variant decode. The variant `member` column
      * stays authoritative for everything the typed projection can't
      * express.
      *
      * ONE distributed parse for the whole store (the r10 shape paid
      * two: a spark.read.json inference scan, then the write's parse):
      * the schema comes from a DRIVER-side spread sample
      * (schema_of_variant_agg — the same merge the validator uses), the
      * write parses once (parse_json; the typed column is a cast of the
      * same subexpression), and an observe() metric aggregates the TRUE
      * member schema during that very write. Only a sample miss
      * (observed schema != sampled) pays a second typed-projection pass
      * — with the exact schema.
      *
      * XML member tables (`kind = "xml"` — element nodes, not records)
      * take a DIFFERENT typed projection — [[writeXmlMembers]]. */
    private def writeMembers(dir: String, members: Store.MemberSpans,
                             kind: String): Unit = {
      if (members.size == 0) return
      if (kind == "xml") { writeXmlMembers(dir, members); return }
      import org.apache.spark.sql.Encoders
      val base = members.toDF(spark)
      val typed = kind == "json"
      def aggSchema(df: DataFrame): Option[String] =
        scala.util.Try(
          df.select(expr(
            "schema_of_variant_agg(try_parse_json(member_json))"))
            .head.getString(0)).toOption.filter(_ != null)
      // variant schema -> Spark struct DDL, mapped to the JSON-
      // inference types the typed filter expects: fractional decimals
      // widen to DOUBLE (double-literal comparisons then stay cast-free
      // and PUSH DOWN), all-null fields to STRING (parquet cannot
      // write the null type)
      def ddlOf(vs: String): Option[String] =
        if (vs == null || !vs.startsWith("OBJECT<")) None
        else Some(vs.replace("OBJECT<", "STRUCT<")
          .replaceAll("DECIMAL\\(\\d+,\\s*\\d+\\)", "DOUBLE")
          .replaceAll("\\bVOID\\b", "STRING"))
      // member_raw keeps the SOURCE-ORDER text: the variant encoding
      // canonicalizes (sorts) object keys, which is fine for values and
      // paths but changes PREORDER NUMBERING — node identity over the
      // member tables walks the raw text (the reference numbers nodes
      // in insertion order)
      // __nk_n rides in the SAME write pass: the member's node count
      // (fused-model desc + 1 — exactly [[memberKeyLayout]]'s count
      // expression), so the lazy `_nodekeys` offsets build becomes a
      // 2-long-column scan + prefix sum instead of a second full parse
      // of every member (VERDICT r16 next-round #4; guide §1.2 —
      // the store already walks each member once)
      val gbW = org.apache.spark.sql.graftbridge.GraftBridge
      def nkCount(src: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        gbW.column(JsonTreeCounts(gbW.expression(src), jsonOnly = true))
          .getField("desc") + lit(1L)
      def projected(ddl: Option[String]): DataFrame = ddl match {
        case Some(d) => base.select(col("idx"),
          parse_json(col("member_json")).as("member"),
          col("member_json").as("member_raw"),
          nkCount(col("member_json")).as("__nk_n"),
          parse_json(col("member_json")).try_cast(d).as("t"))
        case None => base.select(col("idx"),
          parse_json(col("member_json")).as("member"),
          col("member_json").as("member_raw"),
          nkCount(col("member_json")).as("__nk_n"))
      }
      // spread sample by span index — O(1) per element on the packed
      // array (the Seq-iteration shape this replaces existed because
      // indexed List access was O(n): 6.7 s of a 9 s store)
      val step = math.max(1, members.size / 2048)
      val sampleDdl =
        if (!typed) None
        else aggSchema(spark.createDataset(
            (0 until members.size by step).take(4096).map(members.apply))(
            Encoders.STRING).toDF("member_json"))
          .flatMap(ddlOf)
      val validated: Boolean = sampleDdl match {
        case None =>
          // not uniformly object-shaped (or an XML child list): no
          // typed projection, nothing to validate — variant rows are
          // authoritative
          projected(None).write.mode("overwrite").parquet(dir)
          true
        case Some(ddl) => scala.util.Try {
          val obs = org.apache.spark.sql.Observation()
          projected(Some(ddl))
            .observe(obs, expr("schema_of_variant_agg(member)").as("vs"))
            .write.mode("overwrite").parquet(dir)
          val fullDdl = ddlOf(obs.get("vs").asInstanceOf[String])
          if (fullDdl != Some(ddl)) {
            // sample missed fields/types — one corrective pass with
            // the exact observed schema (or drop `t` entirely)
            projected(fullDdl).write.mode("overwrite").parquet(dir)
          }
        }.isSuccess
      }
      if (!validated) {
        // observe/typed path unavailable: exact two-job fallback
        // (full-data schema aggregate, then the projection write)
        projected(aggSchema(base).flatMap(ddlOf))
          .write.mode("overwrite").parquet(dir)
      }
    }

    /** XML member table: (`idx`, `member` variant, `n` element name,
      * `t` struct) — the analog of the reference's PAX typed regions
      * (page/pax/StringRegion.java:76, NumberRegionSimd.java:70). `n`
      * lets the trailing-name chain filter run on a plain column
      * (never a per-row variant decode); `t` holds each ATTRIBUTE
      * value as an `@name` field and each child element's
      * name-addressed TEXT (the native [[graft.functions.XmlChildTexts]]
      * walk — one expression node, not ~50 interpreted HOF nodes),
      * sample-typed to BIGINT/DOUBLE/STRING by a driver spread sample.
      *
      * No corrective/validation pass: a value the sampled type cannot
      * hold try_casts to null at write, which answers numeric
      * predicates exactly like the variant path's try_cast — and a
      * name the sample never saw has no column at all, so the typed
      * predicate compiler declines and the variant walk serves. */
    private def writeXmlMembers(dir: String,
                                members: Store.MemberSpans): Unit = {
      import org.apache.spark.sql.graftbridge.GraftBridge
      val base = members.toDF(spark)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      final class Vote {
        var long = true; var dbl = true; var any = false
        def on(s: String): Unit = if (s.nonEmpty) {
          any = true
          val t = s.trim
          if (long && scala.util.Try(java.lang.Long.parseLong(t)).isFailure)
            long = false
          if (dbl && (t.isEmpty ||
              scala.util.Try(java.lang.Double.parseDouble(t)).isFailure))
            dbl = false
        }
        def dt: String =
          if (!any) "string" else if (long) "bigint"
          else if (dbl) "double" else "string"
      }
      val attrVotes =
        scala.collection.mutable.LinkedHashMap.empty[String, Vote]
      val childVotes =
        scala.collection.mutable.LinkedHashMap.empty[String, Vote]
      val step = math.max(1, members.size / 2048)
      (0 until members.size by step).take(4096)
          .iterator.map(members.apply).foreach { mj =>
        scala.util.Try(mapper.readTree(mj)).toOption.foreach { nd =>
          if (nd.isObject && nd.has("~n")) {
            val as = nd.get("~a")
            if (as != null && as.isObject) {
              val it = as.fields()
              while (it.hasNext) {
                val e = it.next()
                attrVotes.getOrElseUpdate(e.getKey, new Vote)
                  .on(e.getValue.asText(""))
              }
            }
            val cs = nd.get("~c")
            if (cs != null && cs.isArray) {
              // name-addressed child text: the element's STRING children
              // joined by one space (the XmlChildTexts concat rule)
              val texts = scala.collection.mutable
                .LinkedHashMap.empty[String, StringBuilder]
              val it = cs.elements()
              while (it.hasNext) {
                val c = it.next()
                if (c.isObject && c.has("~n")) {
                  val sb = texts.getOrElseUpdate(
                    c.get("~n").asText(), new StringBuilder)
                  val kids = c.get("~c")
                  if (kids != null && kids.isArray) {
                    val kit = kids.elements()
                    while (kit.hasNext) {
                      val k = kit.next()
                      if (k.isTextual) {
                        if (sb.nonEmpty) sb.append(' ')
                        sb.append(k.asText()); ()
                      }
                    }
                  }
                }
              }
              texts.foreach { case (cn, sb) =>
                childVotes.getOrElseUpdate(cn, new Vote).on(sb.toString) }
            }
          }
        }
      }
      // quoted struct-field access and variant paths constrain names
      def nameOk(s: String): Boolean = s.nonEmpty &&
        !s.exists(ch => ch == '\'' || ch == '`' || ch == '\\' || ch == '.')
      val attrFields = attrVotes.toSeq.filter(x => nameOk(x._1)).take(16)
        .map { case (a, v) => (a, v.dt) }
      val childFields = childVotes.toSeq.filter(x => nameOk(x._1)).take(16)
        .map { case (c2, v) => (c2, v.dt) }
      // ONE Jackson scan per member for the whole typed projection
      // (XmlMemberShape) + one parse_json for the authoritative
      // variant — a per-field compositional compile re-expands under
      // CollapseProject into 5+ parses and doubled walks per row
      // (measured 2x the member-write time)
      val shape = GraftBridge.column(graft.functions.XmlMemberShape(
        GraftBridge.expression(col("member_json")), attrFields, childFields))
      val out =
        if (attrFields.isEmpty && childFields.isEmpty)
          base.select(col("idx"),
            parse_json(col("member_json")).as("member"),
            shape.getField("n").as("n"))
        else
          base.select(col("idx"),
            parse_json(col("member_json")).as("member"),
            shape.getField("n").as("n"), shape.getField("t").as("t"))
      out.write.mode("overwrite").parquet(dir)
    }

    /** Copy the shred sidecar of one revision to another (content-
      * identical commits — sdb:commit): file copies only, sealed by
      * [[sealShred]]. */
    private[query] def copyShred(collection: String, doc: String,
                                 fromRev: Int, toRev: Int): Unit = {
      if (!shredExists(collection, doc, Some(fromRev))) return
      val path = docPath(collection, doc)
      val src = shredDir(path, fromRev)
      sealShred(path, toRev, "copied shred", "doc-row fallback") { dst =>
        graft.sources.MetaIO.listDirs(src).foreach(sub =>
          graft.sources.MetaIO.copyDir(s"$src/$sub", s"$dst/$sub"))
        copyShredMeta(src, dst)
      }
    }

    // ---- per-resource configuration + index registry ----
    // The analog of the reference's persisted ResourceConfiguration
    // (access/ResourceConfiguration.java:689 writes validFromPath/
    // validToPath; its index controller persists index definitions).
    // Both are tiny JSON sidecars under the resource directory.

    /** Record the resource's valid-time interval field names (set by the
      * 5-arg `jn:store` options object). `$.`-prefixed paths normalize
      * to bare field names, like the reference's
      * ValidTimeConfig.getNormalizedValidFromPath. */
    private[query] def setValidTimeConfig(collection: String, doc: String,
                                          fromPath: String,
                                          toPath: String): Unit = {
      def norm(p: String) = p.stripPrefix("$.").stripPrefix("/")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val o = mapper.createObjectNode()
      o.put("validFromPath", norm(fromPath))
      o.put("validToPath", norm(toPath))
      graft.sources.MetaIO.writeStringOverwrite(
        s"${docPath(collection, doc)}/_config.json",
        mapper.writeValueAsString(o))
      validTimeCache.remove((collection, doc))
      invalidatePlans() // config changes alter compile routing
      ()
    }
    private val validTimeCache = scala.collection.concurrent.TrieMap
      .empty[(String, String), Option[(String, String)]]
    /** The resource's configured (validFromField, validToField), if any —
      * the default interval fields for jn:valid-at / jn:open-bitemporal
      * and the REQUIRED config for jn:scan-valid-time-index. */
    private[query] def validTimeConfig(collection: String, doc: String)
        : Option[(String, String)] =
      validTimeCache.getOrElseUpdate((collection, doc), {
        val p = s"${docPath(collection, doc)}/_config.json"
        if (!graft.sources.MetaIO.exists(p)) None
        else {
          // a PRESENT but unreadable config is corruption, not absence
          // — falling back to default field names would silently answer
          // valid-time stabs against the wrong columns (the
          // Try-toOption vacuous-success class)
          val n = try new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(graft.sources.MetaIO.readString(p))
            catch {
              case scala.util.control.NonFatal(e) =>
                throw new IllegalStateException(
                  s"corrupt resource config at $p: ${e.getMessage}", e)
            }
          if (n.hasNonNull("validFromPath") && n.hasNonNull("validToPath"))
            Some((n.get("validFromPath").asText(),
              n.get("validToPath").asText()))
          else throw new IllegalStateException(
            s"corrupt resource config at $p: validFromPath/validToPath " +
              "missing")
        }
      })

    // ------------------------------------------------------ catalog ops
    // (reference function/jn/io/DropDatabase.java, DropResource.java,
    // ExistsDatabase.java, ExistsResource.java — registered at
    // JNFun.java:258-264)

    def existsDatabase(collection: String): Boolean =
      graft.sources.MetaIO.exists(s"$baseDir/$collection")
    def existsResource(collection: String, doc: String): Boolean =
      graft.sources.MetaIO.exists(docPath(collection, doc)) &&
        graft.sources.TemporalTable
          .mostRecentRevision(docPath(collection, doc)).nonEmpty
    /** Recursive delete + eviction of every per-revision cache keyed by
      * the resource path — a re-created resource of the same name must
      * never serve a dropped revision's cached skeleton/shred/config. */
    def dropResource(collection: String, doc: String): Unit = {
      val path = docPath(collection, doc)
      if (!graft.sources.MetaIO.exists(path))
        throw new IllegalArgumentException(
          s"jn:drop-resource: no such resource $collection/$doc")
      graft.sources.MetaIO.delete(path, recursive = true)
      evictResource(collection, doc)
    }
    def dropDatabase(collection: String): Unit = {
      val p = s"$baseDir/$collection"
      if (!graft.sources.MetaIO.exists(p))
        throw new IllegalArgumentException(
          s"jn:drop-database: no such database $collection")
      val docs = graft.sources.MetaIO.listDirs(p)
        .map(_.split('/').last)
      graft.sources.MetaIO.delete(p, recursive = true)
      docs.foreach(evictResource(collection, _))
    }
    // ---- compiled-plan cache (VERDICT r16 #8) -----------------------
    // serialize()'s parse+compile floor (~0.2 s of Jsoniq parse + plan
    // construction + Catalyst analysis) dominates warm point lookups.
    // PURE-READ queries ([[JsoniqRun.planCacheable]]) cache their
    // compiled DataFrame keyed on (query text, context item); every HIT
    // re-verifies a fingerprint of each resource the compile touched —
    // head revision, head commit timestamp, compaction-overlay names —
    // so any commit (this instance or another writer on the same store
    // dir) recompiles instead of serving a stale plan. Collect still
    // executes the full Spark plan from the parquet inputs every time:
    // this caches COMPILATION, never results.
    private[query] final case class PlanFp(headRev: Option[Int],
                                           headTs: Option[Long],
                                           compactions: Seq[String])
    // least-recently-used eviction past PlanCacheCap entries (access
    // order; every use is under the map's own lock): a burst of new texts
    // evicts the coldest plans, not the hot ones with them
    private val planCache =
      new java.util.LinkedHashMap[(String, Option[String]),
          (DataFrame, Map[String, PlanFp])](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[(String, Option[String]),
            (DataFrame, Map[String, PlanFp])]): Boolean = size() > PlanCacheCap
      }
    private[query] def planCacheSize: Int = planCache.synchronized(planCache.size())
    private[query] val planTouch =
      new ThreadLocal[scala.collection.mutable.Set[String]]
    private[query] def planToken(path: String): PlanFp = {
      val head = graft.sources.TemporalTable.commits(path).lastOption
      PlanFp(head.map(_.revision), head.map(_.commitTsMs),
        graft.sources.MetaIO.list(
          graft.sources.RevisionCompaction.compactionsDir(path)).sorted)
    }
    /** Non-commit mutations (index registry, valid-time config, resource
      * drops) clear the cache outright; commits are caught per-hit by
      * the fingerprint check. */
    private[query] def invalidatePlans(): Unit = planCache.synchronized(planCache.clear())
    private[query] def cachedPlan(key: (String, Option[String]))
        : Option[DataFrame] =
      planCache.synchronized(Option(planCache.get(key))).flatMap { hit =>
        // fingerprints re-read commit logs: checked outside the lock
        if (hit._2.forall { case (p, fp) => planToken(p) == fp }) Some(hit._1)
        else { planCache.synchronized(planCache.remove(key, hit)); None }
      }
    private[query] def cachePlan(key: (String, Option[String]),
                                 df: DataFrame,
                                 touched: collection.Set[String]): Unit = {
      val entry = (df, touched.iterator.map(p => p -> planToken(p)).toMap)
      planCache.synchronized(planCache.put(key, entry))
      ()
    }

    private def evictResource(collection: String, doc: String): Unit = {
      val path = docPath(collection, doc)
      invalidatePlans()
      validTimeCache.remove((collection, doc))
      skeletonCache.synchronized {
        skeletonCache.keySet().removeIf(_._1 == path); ()
      }
      docLenCache.keys.filter(_._1 == path).foreach(docLenCache.remove)
      shredCache.keys.filter(_._1 == path).foreach(shredCache.remove)
      shredMetaCache.keys.filter(_._1 == path).foreach(shredMetaCache.remove)
      shredDfCache.keys.filter(_._1 == path).foreach(shredDfCache.remove)
      keyTreeCache.keys.filter(_._1 == path).foreach(keyTreeCache.remove)
      memberLayoutCache.keys.filter(_._1 == path)
        .foreach(memberLayoutCache.remove)
      editChainCache.keys.filter(_._1 == path)
        .foreach(editChainCache.remove)
      ()
    }

    /** One registered index definition: `no` is the handle
      * jn:find-*-index returns and the scans accept; `kind` is
      * cas/path/name; `typ` the CAS content type (empty otherwise);
      * `paths` the declared path patterns (names for a name index). */
    private[query] final case class IndexDef(no: Int, kind: String,
                                             typ: String,
                                             paths: List[String])
    private def indexesPath(c: String, d: String): String =
      s"${docPath(c, d)}/_indexes.json"
    private[query] def indexDefs(c: String, d: String): Seq[IndexDef] = {
      val p = indexesPath(c, d)
      if (!graft.sources.MetaIO.exists(p)) Nil
      else scala.util.Try {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val arr = mapper.readTree(graft.sources.MetaIO.readString(p))
        import scala.jdk.CollectionConverters._
        arr.elements().asScala.map { e =>
          IndexDef(e.get("no").asInt(), e.get("kind").asText(),
            e.get("typ").asText(),
            e.get("paths").elements().asScala.map(_.asText()).toList)
        }.toSeq
      }.getOrElse(Nil)
    }
    /** Register (or re-find) an index definition; returns its number —
      * numbering is per-resource creation order, like the reference's
      * index controller. The definition is what gives `$paths = ()`
      * scans their coverage (the reference scans the index, whose
      * definition owns the paths). */
    private def writeIndexDefs(c: String, d: String,
                               defs: Seq[IndexDef]): Unit = {
      invalidatePlans() // registry changes alter compile routing
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val arr = mapper.createArrayNode()
      defs.foreach { x =>
        val e = arr.addObject()
        e.put("no", x.no); e.put("kind", x.kind); e.put("typ", x.typ)
        val ps = e.putArray("paths"); x.paths.foreach(ps.add)
      }
      graft.sources.MetaIO.writeStringOverwrite(indexesPath(c, d),
        mapper.writeValueAsString(arr))
    }
    private[query] def registerIndex(c: String, d: String, kind: String,
                                     typ: String,
                                     paths: List[String]): Int = {
      val defs = indexDefs(c, d)
      defs.find(x => x.kind == kind && x.typ == typ && x.paths == paths)
        .map(_.no).getOrElse {
          // max+1, never size: a drop must not make an old handle
          // resolve to a DIFFERENT index
          val no = defs.map(_.no).maxOption.getOrElse(-1) + 1
          writeIndexDefs(c, d, defs :+ IndexDef(no, kind, typ, paths))
          no
        }
    }
    /** Drop index definitions by kind (and number, when given). Returns
      * how many were dropped; surviving numbers are preserved. */
    private[query] def unregisterIndex(c: String, d: String, kind: String,
                                       no: Option[Int]): Int = {
      val defs = indexDefs(c, d)
      val (gone, kept) =
        defs.partition(x => x.kind == kind && no.forall(_ == x.no))
      if (gone.nonEmpty) writeIndexDefs(c, d, kept)
      gone.size
    }
    /** The registered index covering the request — same kind/type, and
      * every requested path COVERED by one of the definition's: equal
      * strings, or a concrete requested path matched by a definition
      * PATTERN (the corpus finds a '//[]' CAS index by the concrete
      * '/[]/test/[]' it wants to scan —
      * testCreateAndRetrieveValueFromCASIndex). */
    private[query] def findIndex(c: String, d: String, kind: String,
                                 typ: String,
                                 paths: List[String]): Option[Int] = {
      def covers(defPath: String, req: String): Boolean =
        defPath == req || {
          val reqSteps = JsonPath.parsePattern(req)
          val concrete = reqSteps.forall {
            case JsonPath.Name(_) | JsonPath.AnyMember => true
            case _ => false
          }
          concrete && JsonPath.matches(reqSteps.map {
            case JsonPath.Name(n2) => n2
            case _ => "[]"
          }, JsonPath.parsePattern(defPath))
        }
      indexDefs(c, d).find(x => x.kind == kind && x.typ == typ &&
        paths.forall(r => x.paths.exists(covers(_, r)))).map(_.no)
    }

    /** Per-revision skeleton cache for the distributed index scans
      * (revisions are immutable; the skeleton is small by construction
      * — the shredded member lists are elided). Bounded: the last few
      * documents scanned in a session. */
    private val skeletonCache =
      new java.util.LinkedHashMap[(String, Int), JsonPath.Skeleton](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int), JsonPath.Skeleton])
            : Boolean = size() > 8
      }
    private[query] def skeletonOf(collection: String, doc: String, rev: Int,
                                  chains: Seq[List[String]],
                                  json: () => String): JsonPath.Skeleton =
      skeletonCache.synchronized {
        val key = (docPath(collection, doc), rev)
        val cached = skeletonCache.get(key)
        if (cached != null) cached
        else {
          // persisted sidecar first: over-cap documents never read
          // their text; marker ordinals resolve against the manifest's
          // json-entry order (the writer's contract)
          val sp = s"${shredDir(docPath(collection, doc), rev)}/_skeleton.json"
          val built =
            if (graft.sources.MetaIO.exists(sp))
              JsonPath.skeletonFromSidecar(
                graft.sources.MetaIO.readString(sp),
                shredEntries(collection, doc, Some(rev))
                  .filter(_.kind == "json").map(_.steps))
            else JsonPath.skeletonTree(json(), chains)
          skeletonCache.put(key, built)
          built
        }
      }

    /** Does the revision carry a persisted skeleton sidecar (so scans
      * can serve without the document text at any size)? Public probe. */
    def hasSkeletonSidecar(collection: String, doc: String,
                           rev: Int): Boolean =
      shredExists(collection, doc, Some(rev)) &&
        graft.sources.MetaIO.exists(
          s"${shredDir(docPath(collection, doc), rev)}/_skeleton.json")

    private val docLenCache =
      scala.collection.concurrent.TrieMap.empty[(String, Int), Long]
    private[query] def docLenOf(collection: String, doc: String,
                                rev: Int): Long =
      docLenCache.getOrElseUpdate((docPath(collection, doc), rev),
        markerBaseOf(collection, doc, rev) match {
          // cap-check heuristic: a member-local chain's length ≈ its
          // base text's (edits patch member subtrees) — never pay a
          // full reconstruction just for the length probe
          case Some(base) => docLenOf(collection, doc, base)
          case None => this.doc(collection, doc, Some(rev))
            .select(length(col("doc_json"))).head.getInt(0).toLong
        })

    // ---- node identity (sirix-compatible node keys, [[NodeKeys]]) ----

    private val keyTreeCache = scala.collection.concurrent.TrieMap
      .empty[(String, Int), NodeKeys.KTree]
    private[query] def editsPath(path: String, rev: Int): String =
      s"$path/_edits/r$rev.json"
    /** Evict per-revision identity caches after clearing an edit log
      * (crashed-attempt residue or a lost commit race). */
    /** Replayed key-layout ctxs of update-derived revisions, keyed per
      * immutable (path, revision) — the replay's log reads, member-count
      * jobs and patch materializations run once per session. */
    private[query] val shredCtxCache = scala.collection.concurrent.TrieMap
      .empty[(String, Int), Option[ShredKeyCtx]]
    private[query] def evictEditState(path: String, rev: Int): Unit = {
      editChainCache.remove((path, rev))
      keyTreeCache.remove((path, rev))
      shredCtxCache.remove((path, rev))
      ()
    }
    /** Record the update operations that produced revision `rev` —
      * the replay log [[keyTreeOf]] derives stable node keys from.
      * `writer` binds the log to this writer's reservation token. */
    private[query] def logEdits(collection: String, doc: String, rev: Int,
                                edits: Seq[NodeKeys.Edit],
                                writer: Option[String] = None): Unit =
      graft.sources.MetaIO.createNew(
        editsPath(docPath(collection, doc), rev),
        NodeKeys.editsToJson(edits, writer))

    /** The edit log that BELONGS to committed revision `rev`, or None.
      * A log whose embedded writer token contradicts the revision's
      * commit-entry writerId is crash residue from a writer that never
      * committed this revision (it predates the reservation hook or
      * aborted after logging) — replaying it against someone else's
      * content would silently corrupt node keys, so it reads as ABSENT
      * with a loud warning. Tokenless logs (pre-token layout) and
      * tokenless commit entries verify vacuously. */
    private[query] def readEditLog(collection: String, doc: String,
                                   rev: Int): Option[Seq[NodeKeys.Edit]] = {
      val path = docPath(collection, doc)
      val ep = editsPath(path, rev)
      if (!graft.sources.MetaIO.exists(ep)) return None
      val (writer, edits) = NodeKeys.editsEnvelopeFromJson(
        graft.sources.MetaIO.readString(ep))
      (writer, graft.sources.TemporalTable.commitWriterId(path, rev)) match {
        case (Some(w), Some(id)) if w != id =>
          System.err.println(
            s"[graft] stale edit log at $ep (writer $w, committed " +
              s"writer $id) — ignoring; keys number fresh")
          None
        case _ => Some(edits)
      }
    }
    /** The revision's key tree. A revision with a recorded edit log
      * inherits the previous revision's keys and mints fresh ones for
      * inserted nodes (the reference's insertion-time key discipline);
      * a fresh store (no log) numbers the content fused-preorder from
      * 1. Driver-bounded: node identity materializes the revision's
      * tree, so over-cap documents fail LOUDLY instead of OOMing. */
    private[query] def keyTreeOf(collection: String, doc: String,
                                 rev: Int): NodeKeys.KTree = {
      val path = docPath(collection, doc)
      keyTreeCache.get((path, rev)).getOrElse {
        // iterate from the earliest uncached revision FORWARD (a long
        // update history must not deepen the stack one frame per
        // revision); every intermediate tree caches — replay cost is
        // paid once per chain, then once per appended revision
        var base = rev
        while (base > 1 && !keyTreeCache.contains((path, base)) &&
            readEditLog(collection, doc, base).isDefined)
          base -= 1
        var t = keyTreeCache.get((path, base)).getOrElse {
          val cap = sys.props.get("graft.nodekeys.maxDriverBytes")
            .map(_.toLong).getOrElse(64L << 20)
          val len = docLenOf(collection, doc, base)
          if (len > cap) throw new UnsupportedOperationException(
            s"sdb:nodekey over $collection/$doc rev $base: document " +
              s"($len bytes) exceeds the node-identity driver cap " +
              s"($cap; -Dgraft.nodekeys.maxDriverBytes)")
          val built = NodeKeys.build(this.doc(collection, doc, Some(base))
            .collect().head.getString(0))
          keyTreeCache.putIfAbsent((path, base), built)
          built
        }
        ((base + 1) to rev).foreach { r =>
          val next = t.deepCopy()
          readEditLog(collection, doc, r)
            .getOrElse(throw new IllegalStateException(
              s"edit log at $collection/$doc rev $r vanished mid-replay"))
            .foreach(NodeKeys.applyEdit(next, _))
          keyTreeCache.putIfAbsent((path, r), next)
          t = next
        }
        t
      }
    }

    /** Did ANY revision up to `rev` commit a NON-EMPTY edit log?
      * Edit-log revisions inherit keys — only fresh preorder numbering
      * serves distributed. Empty logs (content-identical commits —
      * sdb:commit's byte copy) keep fresh numbering valid. Cached per
      * revision: logs are immutable. */
    private val editChainCache = scala.collection.concurrent.TrieMap
      .empty[(String, Int), Boolean]
    private[query] def hasEditChain(collection: String, doc: String,
                                    rev: Int): Boolean = {
      val path = docPath(collection, doc)
      (2 to rev).exists(r => editChainCache.getOrElseUpdate((path, r),
        readEditLog(collection, doc, r).exists(_.nonEmpty)))
    }

    /** Member table of one shredded entry with running node-count
      * offsets: `(idx, member, __nk_n, __nk_off)` plus the entry's
      * TOTAL node count. `__nk_off` = keys consumed by members
      * `0..idx-1`, so a member's absolute key is `memberBase +
      * __nk_off` and a node at preorder offset r inside it adds r.
      * The offsets PERSIST as a parquet sidecar per immutable revision
      * (`_nodekeys/<entry>`): the bucketed prefix sum — per-bucket
      * running windows distribute, the driver holds only the
      * O(members/64k) bucket totals — runs ONCE; every later query
      * reads three columns. Node identity over a million-member
      * document never funnels the members through one process. */
    private val memberLayoutCache = scala.collection.concurrent.TrieMap
      .empty[(String, Int, String), (DataFrame, DataFrame, Long)]
    private[query] def memberKeyLayout(collection: String, doc: String,
                                       rev: Int, entry: ShredEntry)
        : (DataFrame, DataFrame, Long) = {
      val path = docPath(collection, doc)
      memberLayoutCache.getOrElseUpdate((path, rev, entry.dir), {
        import spark.implicits._
        val gb = org.apache.spark.sql.graftbridge.GraftBridge
        val dirName = if (entry.dir.isEmpty) "root" else entry.dir
        val offDir = s"$path/_nodekeys/r$rev/$dirName"
        val metaPath = s"$offDir/_nk_meta.json"
        val full = readShredEntry(collection, doc, Some(rev), entry)
        val members = full.select(col("idx"), col("member"), col("member_raw"))
        if (!graft.sources.MetaIO.exists(metaPath)) {
          // member node counts: served from the `__nk_n` column the
          // store's member walk now writes (a 2-long-column pruned
          // scan), falling back to the full count pass for shreds
          // written before the column existed. The fallback PINS the
          // narrow counts frame: the build runs two jobs (bucket
          // totals, then the offsets write) and an unpinned frame
          // re-parsed every member in both.
          val storedCounts = full.columns.contains("__nk_n")
          val counts0 =
            if (storedCounts) full.select(col("idx"), col("__nk_n"))
            else members
              .withColumn("__nk_n", gb.column(JsonTreeCounts(
                gb.expression(col("member_raw")),
                jsonOnly = true)).getField("desc") +
                lit(1L))
              .select(col("idx"), col("__nk_n"))
          val counts = counts0
            .withColumn("__nk_b", (col("idx") / lit(65536L)).cast("long"))
          if (!storedCounts)
            counts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val acc = try {
            val bt = counts.groupBy(col("__nk_b"))
              .agg(sum("__nk_n").as("__bs"))
              .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
            var run = 0L
            val bases = bt.map { case (b, s) => val r = (b, run); run += s; r }
            val baseDf = bases.toSeq.toDF("__nk_b", "__nk_bb")
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("__nk_b")).orderBy(col("idx"))
            counts.join(broadcast(baseDf), "__nk_b")
              .withColumn("__nk_off",
                col("__nk_bb") + sum(col("__nk_n")).over(w) - col("__nk_n"))
              .select(col("idx"), col("__nk_n"), col("__nk_off"))
              .write.mode("overwrite").parquet(offDir)
            run
          } finally if (!storedCounts) { counts.unpersist(); () }
          // the meta marker is the COMMIT POINT (same discipline as the
          // shred's completion marker): a crashed write leaves no marker
          // and the next reader recomputes. A concurrent writer losing
          // the create-new race is benign — both computed the same
          // immutable layout
          try graft.sources.MetaIO.createNew(metaPath,
            s"""{"total": $acc}""")
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
          }
        }
        val total = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(graft.sources.MetaIO.readString(metaPath))
          .get("total").asLong()
        // __nk_n stays: the by-key inverse (select-item) range-filters
        // on [off, off + n)
        val offsets = spark.read.parquet(offDir)
        val layout = members.join(offsets, "idx")
        // the narrow offsets frame rides along: consumers whose hits
        // already CARRY the member text (index scans in identity mode)
        // join these 3 long columns instead of shuffling the member
        // table — document bytes stay in the scan
        (layout, offsets, total)
      })
    }

    private[query] val ShredCompleteMarker = "_graft_shredded"

    private[query] def shredDir(path: String, rev: Int): String =
      s"$path/_shred/r$rev"

    /** Distributed member rows of a shredded revision: (`idx`,
      * `member_json`), or None when the resolved revision has no shred
      * (small documents, delta-era or update-committed revisions — the
      * 1-row `doc_json` read remains the fallback). Existence is
      * memoized per (path, revision): revisions are immutable. */
    private val shredCache =
      scala.collection.concurrent.TrieMap.empty[(String, Int), Boolean]
    private def resolveRev(path: String, rev: Option[Int]): Option[Int] =
      rev.orElse(graft.sources.TemporalTable.mostRecentRevision(path))
    /** Public probe: does the HEAD revision serve from a shred? */
    def isShredded(collection: String, doc: String): Boolean =
      shredExists(collection, doc, None)
    /** Public probe: the resource's head revision number. */
    def headRevision(collection: String, doc: String): Option[Int] =
      graft.sources.TemporalTable
        .mostRecentRevision(docPath(collection, doc))
    /** Public probe: is `rev` a member-local fast commit (sentinel
      * row over a base text + patch overlay)? */
    def isMemberLocalCommit(collection: String, doc: String,
                            rev: Int): Boolean =
      markerBaseOf(collection, doc, rev).isDefined
    private[query] def shredExists(collection: String, doc: String,
                                   rev: Option[Int]): Boolean = {
      val path = docPath(collection, doc)
      resolveRev(path, rev).exists(r =>
        shredCache.getOrElseUpdate((path, r),
          graft.sources.MetaIO.exists(
            s"${shredDir(path, r)}/$ShredCompleteMarker")))
    }
    /** One shredded member table of a revision: a relative `dir` under
      * the revision's shred root, its `kind` ("json" field chains /
      * "xml" element chains), and the step path it serves. */
    private[query] final case class ShredEntry(dir: String, kind: String,
                                               steps: List[String])
    private val shredMetaCache = scala.collection.concurrent.TrieMap
      .empty[(String, Int), Seq[ShredEntry]]
    /** The revision's shred manifest (empty when not shredded, or when
      * the manifest is missing despite the marker — a corrupt state
      * that falls back to the authoritative doc row). */
    private[query] def shredEntries(collection: String, doc: String,
                                    rev: Option[Int]): Seq[ShredEntry] =
      if (!shredExists(collection, doc, rev)) Nil
      else {
        val path = docPath(collection, doc)
        val r = resolveRev(path, rev).get
        shredMetaCache.getOrElseUpdate((path, r), {
          val metaPath = s"${shredDir(path, r)}/_meta.json"
          if (!graft.sources.MetaIO.exists(metaPath))
            Nil
          else {
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            val arr = mapper.readTree(graft.sources.MetaIO.readString(metaPath))
            import scala.jdk.CollectionConverters._
            arr.elements().asScala.map { e =>
              ShredEntry(e.get("dir").asText(), e.get("kind").asText(),
                e.get("steps").elements().asScala.map(_.asText()).toList)
            }.toSeq
          }
        })
      }
    private val shredDfCache =
      scala.collection.concurrent.TrieMap.empty[(String, Int, String), DataFrame]
    /** The member DataFrame behind one manifest entry. Revisions are
      * immutable — the frame is reused (compile-time guards probe shreds
      * repeatedly; one footer read each is waste). */
    private[query] def readShredEntry(collection: String, doc: String,
                                      rev: Option[Int],
                                      entry: ShredEntry): DataFrame = {
      val path = docPath(collection, doc)
      val r = resolveRev(path, rev).get
      val dir = if (entry.dir.isEmpty) shredDir(path, r)
        else s"${shredDir(path, r)}/${entry.dir}"
      shredDfCache.getOrElseUpdate((path, r, entry.dir), {
        val base = graft.plans.FooterSchemas.readParquet(spark, dir)
        // member-local fast commits overlay touched rows under _patch
        // (underscore: invisible to the base parquet scan) — compose
        // base-minus-patched ∪ patch. With a run translation
        // (member-LEVEL deletes/inserts shift positions), surviving
        // base rows remap cur = base - baseStart + curStart through an
        // O(edits) CASE; without one, patch rows REPLACE same-idx rows.
        val pdir = s"$dir/_patch"
        if (!graft.sources.MetaIO.exists(s"$pdir/_SUCCESS")) base
        else {
          val patch = graft.plans.FooterSchemas.readParquet(spark, pdir)
          readPatchRuns(pdir) match {
            case None =>
              val idxs = patch.select("idx").collect()
                .map(_.getLong(0)).toSeq
              base.filter(!col("idx").isin(idxs: _*)).unionByName(patch)
            case Some((_, runs)) if runs.size <= RunCaseMax =>
              // few runs: a shallow codegen'd CASE, no join
              val curExpr = runs.foldLeft(lit(null).cast("long")) {
                case (acc, (cs, bs, l)) =>
                  when(col("idx") >= bs.toLong &&
                    col("idx") < (bs + l).toLong,
                    col("idx") - bs.toLong + cs.toLong).otherwise(acc)
              }
              base.withColumn("__mlcur", curExpr)
                .filter(col("__mlcur").isNotNull)
                .withColumn("idx", col("__mlcur")).drop("__mlcur")
                .unionByName(patch)
            case Some((_, runs)) =>
              // many runs: a CASE this deep falls out of whole-stage
              // codegen (interpreted eval past the 64KB method limit)
              // — a broadcast RANGE JOIN against the runs stays flat.
              // Runs are disjoint in base-index space, so the inner
              // join keeps exactly the surviving rows (the CASE's
              // notNull filter)
              import spark.implicits._
              val rdf = runs.map { case (cs, bs, l) =>
                (cs.toLong, bs.toLong, l.toLong) }
                .toDF("__rcs", "__rbs", "__rl")
              base.join(broadcast(rdf),
                  col("idx") >= col("__rbs") &&
                    col("idx") < col("__rbs") + col("__rl"))
                .withColumn("idx",
                  col("idx") - col("__rbs") + col("__rcs"))
                .drop("__rcs", "__rbs", "__rl")
                .unionByName(patch)
          }
        }
      })
    }
    /** The ROOT-ARRAY member table (the original serving surface). */
    private[query] def shredded(collection: String, doc: String,
                                rev: Option[Int]): Option[DataFrame] =
      shredEntries(collection, doc, rev)
        .find(e => e.kind == "json" && e.steps.isEmpty)
        .map(readShredEntry(collection, doc, rev, _))
    // ---- member-local fast commits ([[commitMemberLocal]]) ----
    // A fast-committed revision's doc row holds a SENTINEL over the
    // chain's base full-text revision; its content is (base text +
    // the chain's edit logs), reconstructed lazily by member splicing.

    /** Base full-text revision when `rev` is a member-local fast
      * commit; None for a real-text revision. The marker rides in the
      * COMMIT MESSAGE (`memberlocal:<base>` — written by the fast
      * commit and propagated by sdb:commit copies), so the probe is a
      * commit-log lookup, never a doc-row decode. The doc row ALSO
      * carries the sentinel text as defense in depth: a path that
      * loses the message (e.g. a revert copying a sentinel row under
      * its own message) fails parse_json LOUDLY instead of serving the
      * sentinel as content. */
    private[query] def markerBaseOf(collection: String, doc: String,
                                    rev: Int): Option[Int] = {
      val path = docPath(collection, doc)
      graft.sources.TemporalTable.commits(path)
        .find(_.revision == rev)
        .map(_.message)
        .filter(_.startsWith("memberlocal:"))
        .map(_.stripPrefix("memberlocal:").trim.toInt)
    }

    /** Document TEXT of a revision, resolving member-local sentinel
      * rows: base text + per-member splices derived from the chain's
      * edit logs (every log between base and `rev` must be fully
      * member-local — the commit path guarantees it; empty logs from
      * copy-commits contribute nothing). LRU-cached (texts are big). */
    private val docTextCache =
      new java.util.LinkedHashMap[(String, Int), String](8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int), String]): Boolean =
          size() > 4
      }
    private[query] def docText(collection: String, doc: String,
                               revision: Option[Int]): String = {
      val path = docPath(collection, doc)
      val r = resolveRev(path, revision).getOrElse(
        throw new IllegalArgumentException(s"no revisions for $path"))
      docTextCache.synchronized {
        val hit = docTextCache.get((path, r))
        if (hit != null) return hit
      }
      val text = markerBaseOf(collection, doc, r) match {
        case None =>
          graft.sources.TemporalTable.read(spark, path, Some(r))
            .select(col("doc_json")).head.getString(0)
        case Some(base) =>
          val baseText = docText(collection, doc, Some(base))
          if (shredExists(collection, doc, Some(r)))
            // primary: the revision's own overlay (runs + patch rows)
            // rebuilds each entry array from base spans + patch texts —
            // O(doc) string ops, handles member-level shifts
            rebuildFromOverlay(collection, doc, r, baseText)
          else {
            // crash residue (sidecar incomplete): the full member-local
            // shape — strictly-inside AND member-level ops — replays
            // textually from base text + edit logs
            val logs = ((base + 1) to r).flatMap { lr =>
              readEditLog(collection, doc, lr).getOrElse(
                throw new IllegalStateException(
                  s"member-local revision chain $collection/$doc " +
                    s"$base..$r: edit log for revision $lr is missing — " +
                    "cannot reconstruct the document"))
            }
            spliceMemberEdits(collection, doc, base, baseText, logs)
          }
      }
      docTextCache.synchronized { docTextCache.put((path, r), text); () }
      text
    }

    /** Classify an edit against the base revision's shred entries:
      * Some((entry, memberIdx, member-relative edit)) when the pointer
      * lands STRICTLY INSIDE a member of a json entry. */
    private[query] def memberLocalEditOf(entries: Seq[ShredEntry],
                                         e: NodeKeys.Edit)
        : Option[(ShredEntry, Int, NodeKeys.Edit)] =
      entries.iterator.filter(_.kind == "json").flatMap { en =>
        val n = en.steps.length
        if (e.ptr.length > n + 1 &&
            e.ptr.take(n) == en.steps.map(Left(_): Either[String, Int]))
          e.ptr(n) match {
            case Right(i) if i >= 0 =>
              Some((en, i, e.copy(ptr = e.ptr.drop(n + 1))))
            case _ => None
          }
        else None
      }.toSeq.headOption

    /** Full fast-commit classification (r15b): an edit is MEMBER-LOCAL
      * when it lands strictly inside a member ([[memberLocalEditOf]]),
      * OR it operates at the MEMBER level itself — delete/replace of
      * one member (`ptr = chain + [idx]`) or append/positioned-insert
      * into the chain array (`ptr = chain`). Member-level ops shift
      * positions; the overlay records the resulting run translation. */
    private sealed trait MlEdit { def en: ShredEntry }
    private final case class MlInner(en: ShredEntry, idx: Int,
                                     rel: NodeKeys.Edit) extends MlEdit
    private final case class MlMember(en: ShredEntry,
                                      op: NodeKeys.Edit) extends MlEdit
    private def classifyMl(entries: Seq[ShredEntry],
                           e: NodeKeys.Edit): Option[MlEdit] = {
      memberLocalEditOf(entries, e) match {
        case Some((en, idx, rel)) => return Some(MlInner(en, idx, rel))
        case None => ()
      }
      entries.iterator.filter(_.kind == "json").flatMap { en =>
        val n = en.steps.length
        val chainL = en.steps.map(Left(_): Either[String, Int])
        if (e.ptr.length == n + 1 && e.ptr.take(n) == chainL)
          e.ptr(n) match {
            case Right(i) if i >= 0 &&
                (e.kind == "delete" || e.kind == "replace") =>
              Some(MlMember(en, e))
            case _ => None
          }
        else if (e.ptr == chainL &&
            (e.kind == "append" || (e.kind == "insert" && e.pos.isDefined)))
          Some(MlMember(en, e))
        else None
      }.toSeq.headOption
    }

    /** The member-list state of one entry during a fast commit, in
      * CURRENT order: untouched BASE runs interleaved with raw member
      * texts — the write-side twin of replayShredKeys' segment algebra
      * (same locate/delete/insert discipline, texts instead of key
      * trees). Flattens to the `_patch` overlay's runs + rows. */
    private final class TextSegs(
        val segs: scala.collection.mutable.ArrayBuffer[Either[(Int, Int), String]]) {
      def totalLen: Int =
        segs.map { case Left((_, l)) => l; case Right(_) => 1 }.sum
      def locate(cur: Int): (Int, Int) = {
        var at = 0
        segs.zipWithIndex.foreach { case (s, i) =>
          val l = s match { case Left((_, sl)) => sl; case Right(_) => 1 }
          if (cur < at + l) return (i, cur - at)
          at += l
        }
        throw new ReplayUnsupported(
          s"member position $cur out of bounds during fast commit")
      }
      /** base idx at current position, None when patched. */
      def baseIdxAt(cur: Int): Option[Int] = locate(cur) match {
        case (i, o) => segs(i) match {
          case Left((bs, _)) => Some(bs + o)
          case Right(_) => None
        }
      }
      def textAt(cur: Int): Option[String] = locate(cur) match {
        case (i, _) => segs(i).toOption
      }
      def setText(cur: Int, raw: String): Unit = locate(cur) match {
        case (i, _) if segs(i).isRight => segs(i) = Right(raw)
        case (i, o) =>
          val Left((bs, l)) = segs(i): @unchecked
          val repl = Seq(
            Left((bs, o)): Either[(Int, Int), String],
            Right(raw), Left((bs + o + 1, l - o - 1)))
            .filter { case Left((_, sl)) => sl > 0; case _ => true }
          segs.remove(i)
          segs.insertAll(i, repl)
      }
      def deleteAt(cur: Int): Unit = locate(cur) match {
        case (i, _) if segs(i).isRight => segs.remove(i); ()
        case (i, o) =>
          val Left((bs, l)) = segs(i): @unchecked
          val repl = Seq(Left((bs, o)), Left((bs + o + 1, l - o - 1)))
            .filter { case Left((_, sl)) => sl > 0; case _ => true }
          segs.remove(i)
          segs.insertAll(i, repl.map(x => x: Either[(Int, Int), String]))
      }
      def insertAt(cur: Int, raw: String): Unit = {
        if (cur == totalLen) { segs += Right(raw); return }
        locate(cur) match {
          case (i, 0) => segs.insert(i, Right(raw))
          case (i, o) =>
            val Left((bs, l)) = segs(i): @unchecked
            segs.remove(i)
            segs.insertAll(i, Seq(
              Left((bs, o)): Either[(Int, Int), String],
              Right(raw), Left((bs + o, l - o))))
        }
      }
      /** (runs [(curStart, baseStart, len)], patch rows [(curIdx, raw)]). */
      def flatten: (Seq[(Int, Int, Int)], Seq[(Int, String)]) = {
        var cur = 0
        val runs = Seq.newBuilder[(Int, Int, Int)]
        val rows = Seq.newBuilder[(Int, String)]
        segs.foreach {
          case Left((bs, l)) => runs += ((cur, bs, l)); cur += l
          case Right(raw) => rows += ((cur, raw)); cur += 1
        }
        (runs.result(), rows.result())
      }
    }

    /** The entry's overlay state at `rev` as TextSegs over the CHAIN
      * BASE's member table: identity runs when no overlay, else the
      * persisted runs + patch rows. */
    private def textSegsOf(path: String, rev: Int, en: ShredEntry,
                           baseCount: Int): TextSegs = {
      val pdir = s"${shredDir(path, rev)}/${en.dir}/_patch"
      if (!graft.sources.MetaIO.exists(s"$pdir/_SUCCESS"))
        return new TextSegs(scala.collection.mutable.ArrayBuffer(
          Left((0, baseCount)): Either[(Int, Int), String]))
      val patch = spark.read.parquet(pdir)
        .select(col("idx"), col("member_raw")).collect()
        .map(r => r.getLong(0).toInt -> r.getString(1)).toMap
      val runsOpt = readPatchRuns(pdir)
      val segs = scala.collection.mutable.ArrayBuffer
        .empty[Either[(Int, Int), String]]
      runsOpt match {
        case Some((total, runs)) =>
          val byStart = runs.sortBy(_._1)
          var cur = 0
          var ri = 0
          while (cur < total) {
            if (ri < byStart.length && byStart(ri)._1 == cur) {
              val (_, bs, l) = byStart(ri)
              segs += Left((bs, l)); cur += l; ri += 1
            } else {
              segs += Right(patch.getOrElse(cur,
                throw new IllegalStateException(
                  s"patch overlay at $pdir: position $cur neither in " +
                    "runs nor patched")))
              cur += 1
            }
          }
        case None =>
          // legacy r15 overlay: identity mapping, patched replacements
          var i = 0
          var runStart = 0
          while (i <= baseCount) {
            if (i == baseCount || patch.contains(i)) {
              if (i > runStart) segs += Left((runStart, i - runStart))
              if (i < baseCount) segs += Right(patch(i))
              runStart = i + 1
            }
            i += 1
          }
      }
      new TextSegs(segs)
    }

    /** A literal value's canonical Jackson-compact text — byte-for-byte
      * what the collect-reparse path serializes for the same value. */
    private def canonicalJson(
        mapper: com.fasterxml.jackson.databind.ObjectMapper,
        raw: String): String =
      mapper.writeValueAsString(mapper.readTree(raw))

    /** Chain-base member counts (invariant along a fast-commit chain —
      * the entry dirs hardlink the base's parquet files). */
    private val baseCountCache = scala.collection.concurrent.TrieMap
      .empty[(String, Int, String), Int]

    private def readPatchRuns(pdir: String)
        : Option[(Int, Seq[(Int, Int, Int)])] = {
      val rp = s"$pdir/_runs.json"
      if (!graft.sources.MetaIO.exists(rp)) return None
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(graft.sources.MetaIO.readString(rp))
      import scala.jdk.CollectionConverters._
      Some((node.get("total").asInt(),
        node.get("runs").elements().asScala.map(a =>
          (a.get(0).asInt(), a.get(1).asInt(), a.get(2).asInt())).toSeq))
    }

    /** Apply a member-local edit sequence — strictly-inside AND
      * member-LEVEL ops — to the base TEXT: per-entry [[TextSegs]]
      * over the base member spans replay the logs in order (the same
      * segment algebra the fast commit ran against the parquet rows,
      * sourcing member text from the base spans instead), then each
      * touched entry array re-assembles as untouched base spans +
      * re-serialized texts. O(doc) string copy, zero full-document
      * parses. This is the crash-residue fallback when a fast commit's
      * sidecar is missing — it must accept EVERYTHING
      * [[commitMemberLocal]] accepts, including the position-shifting
      * member-level delete/insert/append/replace shapes. */
    private def spliceMemberEdits(collection: String, doc: String,
                                  baseRev: Int, baseText: String,
                                  edits: Seq[NodeKeys.Edit]): String = {
      if (edits.isEmpty) return baseText
      val entries = shredEntries(collection, doc, Some(baseRev))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val spanCache = scala.collection.mutable.Map
        .empty[List[String], (Int, Int, Array[Long])]
      def spansOf(steps: List[String]): (Int, Int, Array[Long]) =
        spanCache.getOrElseUpdate(steps, {
          val (s0, e0) = entrySpanIn(baseText, steps)
          (s0, e0,
            Store.splitTopLevelArraySpans(baseText.substring(s0, e0)))
        })
      def baseMemberText(steps: List[String], i: Int): String = {
        val (s0, _, spans) = spansOf(steps)
        require(i >= 0 && i < spans.length,
          s"member $i out of bounds during reconstruction")
        baseText.substring(s0 + (spans(i) >>> 32).toInt,
          s0 + (spans(i) & 0xFFFFFFFFL).toInt)
      }
      val states = scala.collection.mutable.LinkedHashMap
        .empty[ShredEntry, TextSegs]
      def stateOf(en: ShredEntry): TextSegs =
        states.getOrElseUpdate(en, new TextSegs(
          scala.collection.mutable.ArrayBuffer(
            Left((0, spansOf(en.steps)._3.length))
              : Either[(Int, Int), String])))
      edits.foreach { e =>
        classifyMl(entries, e) match {
          case Some(MlInner(en, idx, rel)) =>
            val st = stateOf(en)
            val raw = st.textAt(idx).getOrElse(
              baseMemberText(en.steps, st.baseIdxAt(idx).getOrElse(
                throw new IllegalStateException(
                  "unlocatable member during reconstruction"))))
            val node = mapper.readTree(raw)
            JsoniqUpdate.applyEditToNode(mapper, node, rel)
            st.setText(idx, mapper.writeValueAsString(node))
          case Some(MlMember(en, op)) =>
            val st = stateOf(en)
            op.kind match {
              case "delete" =>
                val Right(i) = op.ptr.last: @unchecked
                st.deleteAt(i)
              case "replace" =>
                val Right(i) = op.ptr.last: @unchecked
                st.setText(i, canonicalJson(mapper, op.valueJson.get))
              case "append" =>
                st.insertAt(st.totalLen,
                  canonicalJson(mapper, op.valueJson.get))
              case "insert" =>
                st.insertAt(op.pos.get,
                  canonicalJson(mapper, op.valueJson.get))
              case other2 => throw new IllegalStateException(
                s"member-level $other2 during reconstruction")
            }
          case None => throw new IllegalStateException(
            s"member-local chain over $collection/$doc: edit at " +
              s"${e.ptr} is not member-local — reconstruction refused")
        }
      }
      val repls = states.toSeq.map { case (en, st) =>
        val (s0, e0, _) = spansOf(en.steps)
        val parts = st.segs.iterator.flatMap {
          case Left((bs, l)) => (bs until bs + l).iterator
            .map(baseMemberText(en.steps, _))
          case Right(raw) => Iterator(raw)
        }
        (s0, e0, parts.mkString("[", ",", "]"))
      }
      val sb = new java.lang.StringBuilder(baseText.length + 1024)
      var at = 0
      repls.sortBy(_._1).foreach { case (ms, me, txt) =>
        sb.append(baseText, at, ms).append(txt)
        at = me
      }
      sb.append(baseText, at, baseText.length)
      sb.toString
    }

    /** Entry array span in a document text: root arrays split directly,
      * nested entries re-locate via the same candidate scan that
      * produced the manifest (same text -> same spans). */
    private def entrySpanIn(baseText: String,
                            steps: List[String]): (Int, Int) =
      if (steps.isEmpty) {
        var w = 0
        while (w < baseText.length && baseText.charAt(w).isWhitespace) w += 1
        (w, baseText.length)
      } else Store.shredCandidates(baseText)
        .find(c => c.kind == "json" && c.steps == steps)
        .map(c => (c.start, c.end))
        .getOrElse(throw new IllegalStateException(
          s"member-local chain: entry $steps not found in base text"))

    /** Rebuild a fast-committed revision's text from its OVERLAY:
      * each entry array re-assembles as untouched base member spans
      * (run translation) interleaved with patch texts in current
      * order; everything outside the entry arrays keeps the base
      * bytes verbatim. O(doc) string ops, zero full-document parses,
      * handles member-LEVEL deletes/inserts. */
    private def rebuildFromOverlay(collection: String, doc: String,
                                   rev: Int, baseText: String): String = {
      val path = docPath(collection, doc)
      val repls = shredEntries(collection, doc, Some(rev))
        .filter(_.kind == "json").flatMap { en =>
          val pdir = s"${shredDir(path, rev)}/${en.dir}/_patch"
          if (!graft.sources.MetaIO.exists(s"$pdir/_SUCCESS")) None
          else {
            val (s0, e0) = entrySpanIn(baseText, en.steps)
            val sub = baseText.substring(s0, e0)
            val spans = Store.splitTopLevelArraySpans(sub)
            val segs = textSegsOf(path, rev, en, spans.length)
            val parts = segs.segs.iterator.flatMap {
              case Left((bs, l)) => (bs until bs + l).iterator.map(i =>
                sub.substring((spans(i) >>> 32).toInt,
                  (spans(i) & 0xFFFFFFFFL).toInt))
              case Right(raw) => Iterator(raw)
            }
            Some((s0, e0, parts.mkString("[", ",", "]")))
          }
        }
      if (repls.isEmpty) return baseText
      val sb = new java.lang.StringBuilder(baseText.length + 1024)
      var at = 0
      repls.sortBy(_._1).foreach { case (ms, me, txt) =>
        sb.append(baseText, at, ms).append(txt)
        at = me
      }
      sb.append(baseText, at, baseText.length)
      sb.toString
    }

    /** MEMBER-LOCAL COMMIT: when every edit of the statement targets a
      * shredded member — strictly inside one, OR the member level
      * itself (delete/replace of a member, append/positioned insert
      * into the chain array) — commit WITHOUT collecting the document
      * (reference analog: JsonNodeTrxImpl's page-local CoW mutation is
      * O(touched subtree) at any document size). The revision's doc
      * row is a sentinel over the chain's base text (reconstructed
      * lazily by [[docText]] from the overlay), the shred sidecar
      * HARDLINKS the head's files plus a `_patch` overlay (touched
      * member rows + the run translation for position-shifting ops),
      * and the edit log commits exactly like the slow path — key
      * replay, time travel and serving are unchanged by construction.
      * Returns false (caller takes the slow path) when any edit is
      * not member-local, entries nest, member_raw is absent, or the
      * cumulative overlay exceeds its caps. */
    private[query] def commitMemberLocal(collection: String, doc: String,
                                         edits: Seq[NodeKeys.Edit]): Boolean = {
      val dbg = sys.props.contains("graft.memberpatch.debug")
      var tMark = System.nanoTime()
      def lap(l: String): Unit = if (dbg) {
        val now = System.nanoTime()
        System.err.println(f"[mlc] $l%-24s ${(now - tMark) / 1e9}%6.2f s")
        tMark = now
      }
      val path = docPath(collection, doc)
      val head = graft.sources.TemporalTable.mostRecentRevision(path)
        .getOrElse(return false)
      val entries = shredEntries(collection, doc, Some(head))
      if (!entries.exists(_.kind == "json")) return false
      val chains = entries.map(_.steps)
      if (chains.exists(a => chains.exists(b => a != b && b.startsWith(a))))
        return false // nested chains: member tables overlap
      val classified = edits.map(classifyMl(entries, _))
      if (classified.exists(_.isEmpty)) return false
      val mlEdits = classified.flatten
      lap("classify")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val maxRows = sys.props.get("graft.memberpatch.maxRows")
        .map(_.toInt).getOrElse(4096)
      // base member counts along the chain are INVARIANT (the entry
      // dirs hardlink the chain base's parquet files)
      def rawBaseDf(en: ShredEntry): DataFrame = {
        val dir = if (en.dir.isEmpty) shredDir(path, head)
          else s"${shredDir(path, head)}/${en.dir}"
        spark.read.parquet(dir)
      }
      val baseTextRev = markerBaseOf(collection, doc, head).getOrElse(head)
      def baseCountOf(en: ShredEntry): Int =
        baseCountCache.getOrElseUpdate((path, baseTextRev, en.dir),
          rawBaseDf(en).count().toInt)
      // overlay state per touched entry (prior runs + patch folded in),
      // then the statement's edits in their deduped DESC order — the
      // SAME order and mutation semantics as the collect-reparse path
      val touchedEntries = mlEdits.map(_.en).distinct
      val states = scala.collection.mutable.LinkedHashMap
        .empty[ShredEntry, TextSegs]
      val baseRawCache = scala.collection.mutable.Map
        .empty[(String, Int), String]
      def baseRaw(en: ShredEntry, baseIdx: Int): String =
        baseRawCache.getOrElseUpdate((en.dir, baseIdx), {
          val rows = rawBaseDf(en).filter(col("idx") === baseIdx.toLong)
            .select(col("member_raw")).collect()
          if (rows.isEmpty)
            throw new ReplayUnsupported(s"base member $baseIdx missing")
          rows.head.getString(0)
        })
      var innerReads = 0
      try {
        touchedEntries.foreach { en =>
          if (!rawBaseDf(en).columns.contains("member_raw"))
            throw new ReplayUnsupported("no member_raw column")
          states(en) = textSegsOf(path, head, en, baseCountOf(en))
        }
        mlEdits.foreach {
          case MlInner(en, idx, rel) =>
            val st = states(en)
            val raw = st.textAt(idx).getOrElse {
              innerReads += 1
              if (innerReads > 64) throw new ReplayUnsupported(
                "too many cold member reads for one statement")
              baseRaw(en, st.baseIdxAt(idx).getOrElse(
                throw new ReplayUnsupported("unlocatable member")))
            }
            val node = mapper.readTree(raw)
            JsoniqUpdate.applyEditToNode(mapper, node, rel)
            st.setText(idx, mapper.writeValueAsString(node))
          case MlMember(en, op) =>
            val st = states(en)
            op.kind match {
              case "delete" =>
                val Right(i) = op.ptr.last: @unchecked
                st.deleteAt(i)
              case "replace" =>
                val Right(i) = op.ptr.last: @unchecked
                st.setText(i, canonicalJson(mapper, op.valueJson.get))
              case "append" =>
                st.insertAt(st.totalLen, canonicalJson(mapper, op.valueJson.get))
              case "insert" =>
                val p = op.pos.get
                if (p < 0 || p > st.totalLen)
                  throw new IllegalArgumentException(
                    s"insert position $p out of bounds")
                st.insertAt(p, canonicalJson(mapper, op.valueJson.get))
              case other2 => throw new ReplayUnsupported(
                s"member-level $other2")
            }
        }
      } catch {
        case _: ReplayUnsupported => return false
      }
      // cumulative overlay-size gate (patched rows + run fragments)
      val flat = states.toSeq.map { case (en, st) => en -> st.flatten }
      if (flat.map(_._2._2.size).sum > maxRows ||
          flat.map(_._2._1.size).sum > 1024)
        return false
      lap("member edits")
      // commit the sentinel row with the statement's edit log in the
      // reservation hook (same crash discipline as the slow path); the
      // commit MESSAGE carries the marker so probes never decode rows
      val rev = graft.sources.TemporalTable.withSentinelPermit {
        graft.sources.TemporalTable.write(
          { import spark.implicits._
            Seq(s"${Store.MemberLocalSentinel}$baseTextRev").toDF("doc_json") },
          path, message = s"memberlocal:$baseTextRev",
          onReserve = (r, token) => {
            graft.sources.MetaIO.delete(editsPath(path, r))
            evictEditState(path, r)
            logEdits(collection, doc, r, edits,
              Some(token).filter(_.nonEmpty))
          })
      }
      lap("sentinel commit")
      // sidecar: HARDLINK the head's entry dirs (immutable parquet
      // files — O(files), not O(bytes)), then overwrite the touched
      // entries' _patch overlays with merged rows. The skeleton is
      // UNCHANGED by member edits (the arrays stay elided slots; member
      // content/count never shows in it), so the base's serves the new
      // revision verbatim. A failed sidecar leaves docText to
      // reconstruct from base text + edit logs.
      val src = shredDir(path, head)
      sealShred(path, rev, "member-local shred",
          "docText reconstruction") { dst =>
        graft.sources.MetaIO.listDirs(src).foreach(sub =>
          graft.sources.MetaIO.linkOrCopyDir(s"$src/$sub", s"$dst/$sub"))
        lap("dir link")
        flat.foreach { case (en, (runs, rows)) =>
          val pdir = s"$dst/${en.dir}/_patch"
          val baseDf = rawBaseDf(en)
          import spark.implicits._
          val allRaw = rows.map { case (i, txt) => (i.toLong, txt) }
            .toDF("idx", "member_raw")
          // project to the BASE table's exact schema (typed `t` column
          // recomputed by the same variant cast; divergent values type
          // to null, which every typed consumer already treats as
          // "walk the variant")
          val projectedPatch = {
            val gbP = org.apache.spark.sql.graftbridge.GraftBridge
            val cols2 = baseDf.schema.fields.map { f =>
              f.name match {
                case "idx" => col("idx")
                case "member" => parse_json(col("member_raw")).as("member")
                case "member_raw" => col("member_raw")
                // patched rows keep the base layout's count invariant:
                // the offsets build reads __nk_n verbatim, so a null
                // here would corrupt a later fresh-numbering layout
                case "__nk_n" => (gbP.column(JsonTreeCounts(
                  gbP.expression(col("member_raw")), jsonOnly = true))
                  .getField("desc") + lit(1L)).as("__nk_n")
                case "t" => parse_json(col("member_raw"))
                  .try_cast(f.dataType.catalogString).as("t")
                case other2 => lit(null).cast(f.dataType).as(other2)
              }
            }
            allRaw.select(cols2.toIndexedSeq: _*)
          }
          projectedPatch.coalesce(1).write.mode("overwrite").parquet(pdir)
          // the run translation rides NEXT TO the rows (underscore file
          // — invisible to the parquet scan); total = current member
          // count, runs = [curStart, baseStart, len] of untouched base
          // segments. Written AFTER the parquet (readers gate on
          // _SUCCESS, and a runs file without rows cannot be seen).
          val total = runs.map(_._3).sum + rows.size
          val runsJson = "{\"total\":" + total + ",\"runs\":[" +
            runs.map { case (cs, bs, l) => s"[$cs,$bs,$l]" }
              .mkString(",") + "]}"
          graft.sources.MetaIO.writeStringOverwrite(
            s"$pdir/_runs.json", runsJson)
        }
        lap("patch write")
        copyShredMeta(src, dst)
      }
      true
    }

    private[query] def doc(collection: String, doc: String,
                           revision: Option[Int]): DataFrame = {
      val path = docPath(collection, doc)
      resolveRev(path, revision) match {
        case Some(r) if markerBaseOf(collection, doc, r).isDefined =>
          import spark.implicits._
          Seq(docText(collection, doc, Some(r))).toDF("doc_json")
        case _ =>
          graft.sources.TemporalTable
            .read(spark, path, revision)
            .select(col("doc_json"))
      }
    }

    /** Store an XML document (converted to the [[XmlItem]] encoding) —
      * the XQuery/XMark ingestion path. ONE StAX pass both encodes and
      * locates the shreddable child lists ([[XmlItem.xmlToJsonSpans]]),
      * so the store skips the candidate re-scan and the member split
      * the JSON path pays (the encoder already knows every member's
      * span); the lists then take the JSON path's selection and commit.
      * Returns the encoded JSON so the caller can bind it as the query's
      * context item. */
    def storeXml(collection: String, doc: String, xml: String): String = {
      import spark.implicits._
      val (json, spans) = XmlItem.xmlToJsonSpans(xml, Store.ShredMinBytes)
      val path = docPath(collection, doc)
      val cands = Store.selectCandidates(spans.map(s =>
        Store.ShredCandidate("xml", s.steps, s.start, s.end, s.count,
          Some(s.members))))
      commitShredded(path, json, Some(cands).filter(_.nonEmpty))(
        graft.sources.TemporalTable.write(Seq(json).toDF("doc_json"), path))
      json
    }
  }

  object Store {
    /** Root-array documents at/above this size gain the member-table
      * sidecar (below it, single-row reads win — no extra files).
      * Overridable for tests via -Dgraft.shred.min. */
    def ShredMinBytes: Int =
      sys.props.get("graft.shred.min").map(_.toInt).getOrElse(1 << 22)

    /** Doc-row sentinel of a member-local fast commit: the row holds
      * `<sentinel><baseRev>` instead of the document text (which
      * [[Store.docText]] reconstructs lazily from the base text + the
      * chain's edit logs). The NUL prefix cannot appear in stored
      * document text (parse_json rejects it), so a reader that
      * bypasses the resolution fails LOUDLY instead of serving the
      * sentinel as content. */
    val MemberLocalSentinel = "\u0000graft:memberlocal\u0000"

    /** Rewrite number literals whose magnitude overflows xs:double
      * (|v| > Double.MaxValue — Spark's variant would collapse them to
      * the string "Infinity") into their exact PLAIN-notation digits as
      * JSON STRINGS. The reference stores such numbers as BigDecimal
      * and serializes the plain digits (its sweep pins 2e308 round-
      * tripping as 2 followed by 308 zeros); a top-level string item
      * serializes to the same text. Documented divergence: inside
      * objects/arrays the value re-serializes quoted. The rewrite runs
      * only when a cheap precheck finds a candidate token (a >=3-digit
      * exponent or a >=300-digit run), so normal stores never scan. */
    /** Same acceptance as the regex `(?i)[0-9](e[+-]?[0-9]{3,})|[0-9]{300,}`
      * it replaces, in ONE linear pass: the regex engine re-scanned up to
      * 300 chars ahead at EVERY digit position (digit-dense documents —
      * the 1M-member store shape is ~50% digits — paid ~0.8 s/21 MB on
      * the driver; this scan is ~25 ms). */
    private[query] def overflowCandidate(json: String): Boolean = {
      val n = json.length
      var i = 0
      var run = 0
      while (i < n) {
        val c = json.charAt(i)
        if (c >= '0' && c <= '9') {
          run += 1
          if (run >= 300) return true
          i += 1
        } else {
          if (run > 0 && (c == 'e' || c == 'E')) {
            var j = i + 1
            if (j < n && (json.charAt(j) == '+' || json.charAt(j) == '-')) j += 1
            var d = 0
            while (j < n && d < 3 &&
                { val k = json.charAt(j); k >= '0' && k <= '9' }) {
              d += 1; j += 1
            }
            if (d >= 3) return true
          }
          run = 0
          i += 1
        }
      }
      false
    }
    private[query] def normalizeOverflowNumbers(json: String): String = {
      if (!overflowCandidate(json)) return json
      val sb = new java.lang.StringBuilder(json.length + 64)
      val n = json.length
      var i = 0
      var inStr = false
      var esc = false
      while (i < n) {
        val c = json.charAt(i)
        if (inStr) {
          sb.append(c)
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == '"') inStr = false
          i += 1
        } else if (c == '"') { inStr = true; sb.append(c); i += 1 }
        else if (c == '-' || (c >= '0' && c <= '9')) {
          val j = i
          i += 1
          while (i < n && (json.charAt(i).isDigit || json.charAt(i) == '.' ||
            json.charAt(i) == 'e' || json.charAt(i) == 'E' ||
            ((json.charAt(i) == '+' || json.charAt(i) == '-') &&
              (json.charAt(i - 1) == 'e' || json.charAt(i - 1) == 'E'))))
            i += 1
          val tok = json.substring(j, i)
          val over = try {
            val bd = new java.math.BigDecimal(tok)
            bd.abs.compareTo(
              java.math.BigDecimal.valueOf(Double.MaxValue)) > 0
          } catch { case _: NumberFormatException => false }
          if (over)
            sb.append('"')
              .append(new java.math.BigDecimal(tok).toPlainString)
              .append('"')
          else sb.append(tok)
          ()
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    /** One shreddable array found by [[shredCandidates]]: `kind` is
      * "json" (reachable from the root through object FIELDS only —
      * `steps` are the field names; empty = the root array) or "xml"
      * (an element's `~c` child list in the [[XmlItem]] encoding —
      * `steps` are the element names from the root element down).
      * `[start, end)` is the array's character span in the source;
      * `members`, when the scan that found the array already located
      * them, its members' packed (start << 32 | end) spans in the
      * source. */
    private[query] final case class ShredCandidate(
        kind: String, steps: List[String], start: Int, end: Int,
        count: Int,
        members: Option[scala.collection.IndexedSeq[Long]] = None)

    /** ONE driver-side streaming pass (no tree) over a stored document
      * locating every shreddable array — the root array, large arrays of
      * an object-rooted document, and large XML child lists — then
      * [[selectCandidates]]. */
    private[query] def shredCandidates(json: String): Seq[ShredCandidate] = {
      import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
      val parser = new JsonFactory().createParser(json)
      // open-container frames, top of list = innermost. Each knows HOW
      // it was entered (root / a parent object's field / array member);
      // object frames track their in-flight field name and id.
      sealed trait Via
      case object VRoot extends Via
      final case class VField(f: String) extends Via
      case object VMember extends Via
      sealed trait Fr { def via: Via }
      final class OFr(val id: Int, val via: Via) extends Fr {
        var field: String = null
      }
      final class AFr(val rec: Rec, val via: Via) extends Fr
      // ancestry snapshot per candidate: ("O"|"A", via, objId)
      final case class Rec(anc: List[(String, Via, Int)], via: Via,
                           start: Int, var end: Int = -1,
                           var count: Int = 0)
      var stack = List.empty[Fr]
      val objName = scala.collection.mutable.Map.empty[Int, String]
      val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
      var nextObj = 0
      def via(): Via = stack.headOption match {
        case None => VRoot
        case Some(o: OFr) => VField(o.field)
        case Some(_: AFr) => VMember
      }
      def countChild(): Unit = stack.headOption match {
        case Some(a: AFr) => a.rec.count += 1
        case _ => ()
      }
      def ancestry(): List[(String, Via, Int)] = stack.reverse.map {
        case o: OFr => ("O", o.via, o.id)
        case a: AFr => ("A", a.via, -1)
      }
      var tok = parser.nextToken()
      while (tok != null) {
        tok match {
          case JsonToken.FIELD_NAME =>
            stack.head.asInstanceOf[OFr].field = parser.currentName()
          case JsonToken.START_OBJECT =>
            countChild()
            stack = new OFr(nextObj, via()) :: stack
            nextObj += 1
          case JsonToken.END_OBJECT => stack = stack.tail
          case JsonToken.START_ARRAY =>
            countChild()
            val r = Rec(ancestry(), via(),
              parser.currentTokenLocation().getCharOffset.toInt)
            recs += r
            stack = new AFr(r, r.via) :: stack
          case JsonToken.END_ARRAY =>
            stack.head.asInstanceOf[AFr].rec.end =
              parser.currentTokenLocation().getCharOffset.toInt + 1
            stack = stack.tail
          case JsonToken.VALUE_STRING =>
            stack.headOption match {
              case Some(o: OFr) if o.field == "~n" =>
                objName.getOrElseUpdate(o.id, parser.getText)
              case _ => ()
            }
            countChild()
          case t if t.isScalarValue => countChild()
          case _ => ()
        }
        tok = parser.nextToken()
      }
      def classify(r: Rec): Option[ShredCandidate] =
        if (r.anc.forall(_._1 == "O")) r.via match {
          // fields-only chain: an object-rooted document's array (the
          // root array is the empty chain). XmlItem housekeeping fields
          // never address a JSON chain.
          case VRoot => Some(ShredCandidate("json", Nil, r.start, r.end,
            r.count))
          case VField(f) =>
            val names = r.anc.collect {
              case ("O", VField(pf), _) => pf } :+ f
            if (names.exists(_.startsWith("~"))) None
            else Some(ShredCandidate("json", names, r.start, r.end,
              r.count))
          case VMember => None
        } else r.via match {
          // element chain: O(root) [A(~c) O(member)]* then this ~c —
          // the candidate is the LAST element's child list, steps are
          // the ~n names of the member elements on the way down
          case VField("~c") =>
            val shapeOk = r.anc.zipWithIndex.forall {
              case (("O", VRoot, _), 0) => true
              case (("A", VField("~c"), _), i) => i % 2 == 1
              case (("O", VMember, _), i) => i % 2 == 0 && i > 0
              case _ => false
            }
            if (!shapeOk || r.anc.isEmpty || r.anc.last._1 != "O") None
            else {
              val names = r.anc.collect {
                case ("O", VMember, id) => objName.getOrElse(id, "")
              }
              if (names.exists(_.isEmpty)) None
              else Some(ShredCandidate("xml", names, r.start, r.end,
                r.count))
            }
          case _ => None
        }
      selectCandidates(recs.iterator.flatMap(classify).toSeq)
    }

    /** The arrays a store shreds: span >= ShredMinBytes and (root, or
      * >= 16 members — a 6-element XML category list spanning the whole
      * document distributes nothing); chains must be UNIQUE (two arrays
      * at the same path are not addressable); top 12 by span. */
    private[query] def selectCandidates(
        cands: Seq[ShredCandidate]): Seq[ShredCandidate] =
      cands.filter(c => (c.end - c.start) >= ShredMinBytes &&
          (c.count >= 16 || (c.kind == "json" && c.steps.isEmpty)))
        .groupBy(c => (c.kind, c.steps)).collect {
          case (_, Seq(one)) => one
        }.toSeq.sortBy(c => c.start - c.end).take(12)

    /** Raw member texts of a top-level JSON array (depth/str-aware
      * scanner; no tree build). Nil when the input is not an array. */
    private[query] def splitTopLevelArray(json: String): Seq[String] =
      splitTopLevelArraySpans(json).toSeq.map(p =>
        json.substring((p >>> 32).toInt, (p & 0xFFFFFFFFL).toInt))

    /** Top-level member SPANS of a JSON array: packed
      * `start << 32 | end` offsets into `json`, whitespace-trimmed.
      * The big-store write path keeps members as spans end-to-end — one
      * String per member (1M+ allocations) measured a multi-second G1
      * young-gen spike on the 1M-item object store. */
    private[query] def splitTopLevelArraySpans(json: String): Array[Long] = {
      val out = scala.collection.mutable.ArrayBuilder.make[Long]
      val n = json.length
      var i = 0
      while (i < n && json.charAt(i).isWhitespace) i += 1
      if (i >= n || json.charAt(i) != '[') return Array.empty
      i += 1
      var depth = 0
      var inStr = false
      var esc = false
      var start = -1
      var done = false
      def emit(endRaw: Int): Unit = {
        var e = endRaw
        while (e > start && json.charAt(e - 1).isWhitespace) e -= 1
        out += ((start.toLong << 32) | e.toLong)
        ()
      }
      while (i < n && !done) {
        val ch = json.charAt(i)
        if (inStr) {
          if (esc) esc = false
          else if (ch == '\\') esc = true
          else if (ch == '"') inStr = false
        } else ch match {
          case '"' =>
            inStr = true; if (start < 0) start = i
          case '[' | '{' =>
            depth += 1; if (start < 0) start = i
          case ']' if depth == 0 =>
            if (start >= 0) emit(i)
            done = true
          case '}' | ']' => depth -= 1
          case ',' if depth == 0 =>
            // malformed input (e.g. `[,`) never crashes the scanner —
            // the strict parse at write time rejects it downstream
            if (start >= 0) emit(i)
            start = -1
          case c if !c.isWhitespace =>
            if (start < 0) start = i
          case _ =>
        }
        i += 1
      }
      out.result()
    }

    /** Span-addressed member list: O(1) random access for the driver's
      * spread samples, and a BATCHED distributed materialization —
      * each task row carries one contiguous document slice plus its
      * members' relative spans, so the driver allocates ~128 slice
      * Strings instead of one String (plus one tuple) per member. */
    private[query] final case class MemberSpans(json: String,
                                                spans: Array[Long]) {
      def size: Int = spans.length
      def apply(i: Int): String = {
        val p = spans(i)
        json.substring((p >>> 32).toInt, (p & 0xFFFFFFFFL).toInt)
      }
      /** (`idx`, `member_json`) rows, members exploded on executors. */
      def toDF(spark: SparkSession): DataFrame = {
        import spark.implicits._
        val per = math.max(1, (size + 127) / 128)
        val batches: Seq[(Long, String, Array[Long])] =
          spans.grouped(per).zipWithIndex.map { case (g, bi) =>
            val s0 = g.head >>> 32
            val slice = json.substring(s0.toInt,
              (g.last & 0xFFFFFFFFL).toInt)
            val rel = g.map(p =>
              (((p >>> 32) - s0) << 32) | ((p & 0xFFFFFFFFL) - s0))
            (bi.toLong * per, slice, rel)
          }.toSeq
        spark.createDataset(spark.sparkContext.parallelize(batches,
            math.min(32, math.max(1, batches.size))))
          .flatMap { case (first, slice, rel) =>
            rel.iterator.zipWithIndex.map { case (p, k) =>
              (first + k,
                slice.substring((p >>> 32).toInt, (p & 0xFFFFFFFFL).toInt))
            }
          }
          .toDF("idx", "member_json")
      }
    }
  }

  /** Parse + compile + return the result sequence as a DataFrame of
    * (`pos: array<long>`, `item_json: string`) in sequence order.
    * `contextJson` binds the XPath context item (`.`) — XMark queries
    * open with `let $auction := .` against the stored document. */
  def run(store: Store, query: String,
          contextJson: Option[String] = None): DataFrame = {
    val key = (query, contextJson)
    store.cachedPlan(key).getOrElse {
      val ast = Jsoniq.parse(query)
      val touch = scala.collection.mutable.Set.empty[String]
      val prev = store.planTouch.get()
      store.planTouch.set(touch)
      val out =
        try {
          val seqDf = compile(store, ast, contextJson)
          seqDf
            .select(col(POS), to_json(col(ITEM)).as("item_json"),
              concat(col(ORD), col(POS)).as("__k"))
            .orderBy("__k")
            .select(col(POS).as("pos"), col("item_json"))
        } finally {
          // restore (and propagate into) an enclosing recorder rather
          // than clearing it — a nested compile must not blind the outer
          // one's fingerprint
          if (prev != null) { prev ++= touch; store.planTouch.set(prev) }
          else store.planTouch.remove()
        }
      if (planCacheable(ast)) store.cachePlan(key, out, touch)
      out
    }
  }

  /** Only PURE READS cache: any update statement or side-effecting
    * function (stores, loads, commits, rollback, index create/drop,
    * resource drops) must re-execute its effect on every invocation. */
  private def planCacheable(ast: Jsoniq.Expr): Boolean =
    !containsEffect(ast) && !Jsoniq.exprAny(ast) {
      case Jsoniq.Call(n, _) =>
        n == "sdb:rollback" || n.startsWith("jn:drop-") ||
          n.startsWith("xml:drop-") ||
          // catalog existence probes answer from directory listings the
          // per-resource fingerprint cannot see change
          n == "jn:exists-database" || n == "jn:exists-resource"
      case _ => false
    }

  /** Run and serialize the way the reference serializes a top-level
    * sequence: JSON items joined by single spaces. Collects — use from
    * tests and pinned-assertion rows only. */
  def serialize(store: Store, query: String,
                contextJson: Option[String] = None): String =
    run(store, query, contextJson).select("item_json")
      .collect().map(_.getString(0)).mkString(" ")

  private def compile(store: Store, ast: Jsoniq.Expr,
                      contextJson: Option[String]): DataFrame = {
    // nested HOF lambdas resolve one level per analyzer iteration; the
    // in-row compiler's element-constructor pipelines (XMark q10) nest
    // past the default 100
    store.spark.conf.set("spark.sql.analyzer.maxIterations", 1000)
    val base = store.spark.range(1)
      .select(array(lit(0L)).as(ORD))
    // node-identity functions need per-item printed paths, which only
    // the row-wise POS layout preserves — flag once per query so
    // identity-free queries keep the flat fast paths
    val idEnv: Map[String, Binding] =
      if (Jsoniq.exprAny(ast) {
        case Jsoniq.Call("sdb:nodekey", _) => true
        case _ => false
      }) Map(NEEDID -> NeedIdMark)
      else Map.empty
    contextJson match {
      case None =>
        // NEEDID seeds the STATIC frame's env too: hoisted/static
        // sub-evaluations re-enter through StaticCtx.env and must keep
        // identity mode on (an array-ctor'd FLWOR evaluates there)
        evalSeq(store, ast, base,
          idEnv ++ Map(STOREK -> StoreRef(store),
            STATIC -> StaticCtx(base, idEnv)))
      case Some(json) =>
        import store.spark.implicits._
        val cn = gensym("ctx")
        val doc = Seq(json).toDF("__j")
          .select(parse_json(col("__j")).as(cn))
        val based = base.crossJoin(broadcast(doc))
        val sEnv = Map[String, Binding]("$$" -> ItemVar(cn)) ++ idEnv
        evalSeq(store, ast, based,
          sEnv + (STOREK -> StoreRef(store)) +
            (STATIC -> StaticCtx(based, sEnv)))
    }
  }

  private var gensymCounter = 0
  private def gensym(prefix: String): String = synchronized {
    gensymCounter += 1
    s"__${prefix}_$gensymCounter"
  }

  private def vnull: Column = expr("parse_json('null')")
  private def asBool(c: Column): Column = c.try_cast("boolean")

  /** A numeric column as a variant number. Non-finite doubles carry
    * XQuery's lexical forms (INF/-INF/NaN) as variant STRINGS — the
    * reference serializes xs:double overflow as INF (its sweep pins
    * `sum((1e308, 1e308))` = INF), and parse_json rejects bare
    * Infinity. */
  private def jsonNumber(c: Column): Column = {
    val s = c.cast("string")
    parse_json(
      when(s === "Infinity", lit("\"INF\""))
        .when(s === "-Infinity", lit("\"-INF\""))
        .when(s === "NaN", lit("\"NaN\""))
        .otherwise(s))
  }
  private def jsonBool(c: Column): Column =
    parse_json(when(c, lit("true")).otherwise(lit("false")))
  /** The QUOTED JSON text of a string column (escaping via to_json of
    * a 1-element array, then stripping the brackets). */
  private def quotedText(c: Column): Column = {
    val arr = to_json(array(c))
    arr.substr(lit(2), length(arr) - 2)
  }

  /** Quote an arbitrary string column as a JSON string (escaping via
    * to_json of a 1-element array, then stripping the brackets). */
  private def jsonString(c: Column): Column = {
    val arr = to_json(array(c))
    parse_json(arr.substr(lit(2), length(arr) - 2))
  }

  private def fieldPath(f: String): String =
    if (f.matches("[A-Za-z_][A-Za-z0-9_]*")) "$." + f
    else "$['" + f.replace("'", "\\'") + "']"

  // ---------------------------------------------- node-identity tracking

  /** Marker binding (under [[NEEDID]]): the query calls a node-identity
    * function (`sdb:nodekey`), so doc-rooted `for` sources must
    * evaluate ROW-WISE (each member unbox appends exactly one POS
    * level — the layout [[pathSpecOf]] renders printed paths from) and
    * stash a per-row dynamic path. Identity-free queries never pay
    * for this: the flat pointwise fast paths stay on. */
  private case object NeedIdMark extends Binding
  private val NEEDID = "%needid"
  private def needsIdentity(env: Map[String, Binding]): Boolean =
    env.contains(NEEDID)

  /** Defining expression of a `let` binding, recorded (identity mode
    * only) under `%def:<name>` so [[serveNodeKey]] can resolve a
    * let-bound node's pointer statically — the bound COLUMN holds the
    * value but not its position in the document. */
  private final case class DefExpr(e: Jsoniq.Expr) extends Binding
  private def defKey(v: String) = s"%def:$v"

  /** Replace let-bound VarRefs with their recorded definitions (depth-
    * capped — definitions can chain through several lets). */
  private def substituteDefs(e: Jsoniq.Expr,
                             env: Map[String, Binding]): Jsoniq.Expr = {
    def go(x: Jsoniq.Expr, depth: Int): Jsoniq.Expr =
      if (depth > 8) x
      else x match {
        case Jsoniq.VarRef(n) => env.get(defKey(n)) match {
          case Some(DefExpr(d)) => go(d, depth + 1)
          case _ => x
        }
        case other => Jsoniq.mapChildren(other)(go(_, depth))
      }
    go(e, 0)
  }

  /** Strip `[?pred]` filters off a chain: filters gate a static item's
    * EXISTENCE, never its position, so the pointer resolves on the
    * stripped chain and the row's own (possibly empty) value gates the
    * result. */
  private def stripFilterPreds(e: Jsoniq.Expr): Jsoniq.Expr = e match {
    case Jsoniq.FilterPred(b, _) => stripFilterPreds(b)
    case other => Jsoniq.mapChildren(other)(stripFilterPreds)
  }

  /** Resource tag an identity-carrying binding stashes under
    * `aux("dres")` — a VALUE (reserved \\u0000 prefix), never a column
    * name. `rev < 0` means the binding's revision is per-row (the
    * `aux("rev")` column — jn:all-times / scan stashes). */
  private def encodeDres(c: String, d: String, rev: Int): String =
    s"\u0000$c\u0000$d\u0000$rev"
  private def decodeDres(s: String): (String, String, Int) = {
    val p = s.split('\u0000')
    (p(1), p(2), p(3).toInt)
  }

  private sealed trait PathSeg
  private final case class SegLit(s: String) extends PathSeg
  private final case class SegCol(colName: String) extends PathSeg
  private case object SegIdx extends PathSeg

  /** Symbolic CONCRETE-path plan of a document-rooted chain: how each
    * item's printed path ([[JsonPath.Hit]] dialect) renders per row —
    * literal segments for static steps, the base variable's stashed
    * dynamic path column, one POS slot per member unbox. None when a
    * component is runtime-dependent beyond those. Sound only under
    * row-wise evaluation ([[NeedIdMark]]): the POS vector is then
    * [base, unbox₁, unbox₂, …] and [[renderPathSpec]] reads slot
    * `1 + k` for the k-th unbox. */
  private def pathSpecOf(store: Store, e: Jsoniq.Expr,
                         env: Map[String, Binding])
      : Option[(String, List[PathSeg])] = e match {
    case Jsoniq.Call("jn:doc", Seq(Jsoniq.StrLit(c), Jsoniq.StrLit(d))) =>
      graft.sources.TemporalTable.mostRecentRevision(store.docPath(c, d))
        .map(rev => (encodeDres(c, d, rev), Nil))
    case Jsoniq.VarRef(n) => env.get(n) match {
      case Some(ItemVar(_, _, aux)) if aux.contains("dres") &&
          (aux.contains("dpath") || aux.contains("ipath") ||
            aux.contains("path")) =>
        // identity path before the printed path, mirroring
        // [[serveNodeKey]]: array-member CAS hits print an empty self
        // path but stash their concrete position under ipath — without
        // it a re-bound hit would render path "" (the document ROOT)
        Some((aux("dres"),
          List(SegCol(aux.getOrElse("ipath",
            aux.getOrElse("dpath", aux("path")))))))
      case Some(SeqVar(_, Some(st))) =>
        graft.sources.TemporalTable
          .mostRecentRevision(store.docPath(st.collection, st.doc))
          .map(rev => (encodeDres(st.collection, st.doc, rev),
            List(SegLit(NodeKeys.renderPath(st.steps)))))
      case _ => None
    }
    case Jsoniq.Deref(b, f) =>
      pathSpecOf(store, b, env).map { case (r, segs) =>
        (r, segs :+ SegLit(s"/${NodeKeys.escSeg(f)}"))
      }
    case Jsoniq.ArrayIndex(b, Jsoniq.NumLit(t)) if !t.contains(".") &&
        !t.startsWith("-") =>
      pathSpecOf(store, b, env).map { case (r, segs) =>
        (r, segs :+ SegLit(s"/[${t.toInt}]"))
      }
    case Jsoniq.Unbox(b) =>
      pathSpecOf(store, b, env).map { case (r, segs) => (r, segs :+ SegIdx) }
    case Jsoniq.FilterPred(b, _) => pathSpecOf(store, b, env)
    case _ => None
  }

  /** Resource of a node-sequence source whose hits carry a per-row
    * `path`/`rev` stash (index scans, temporal axes, item history) —
    * the key trees those rows resolve against. `rev = -1`: per-row. */
  private def resourceOfNodeSource(store: Store, e: Jsoniq.Expr,
                                   env: Map[String, Binding])
      : Option[String] = e match {
    case Jsoniq.Call(n, args) if n.startsWith("jn:scan") ||
        Set("jn:all-times", "jn:past", "jn:future", "jn:first", "jn:last",
          "jn:first-existing", "jn:last-existing", "jn:open-revisions",
          "jn:valid-at", "jn:open-bitemporal",
          "sdb:item-history")(n) =>
      args.headOption.flatMap(a =>
        scala.util.Try(resolveDocArg(a, env)).toOption).map {
        case (c, d) =>
          // index scans serve exactly the HEAD revision — encoding it
          // here lets lookupJoin skip the distinct-revisions probe (a
          // full extra execution of the scan subtree); the temporal
          // axes stash genuinely per-row revisions (-1)
          val rev =
            if (n.startsWith("jn:scan"))
              graft.sources.TemporalTable
                .mostRecentRevision(store.docPath(c, d)).getOrElse(-1)
            else -1
          encodeDres(c, d, rev)
      }
    case Jsoniq.FilterPred(b, _) => resourceOfNodeSource(store, b, env)
    case _ => None
  }

  /** Render a path spec against a ROW-WISE frame's POS vector (the
    * spec's k-th SegIdx = member index at POS slot 1+k). */
  private def renderPathSpec(segs: List[PathSeg]): Column = {
    var idxSlot = 1
    val parts = segs.map {
      case SegLit(s) => lit(s)
      case SegCol(c) =>
        // an array node's own trailing /[] marker is identity-neutral
        regexp_replace(col(c), "/\\[\\]$", "")
      case SegIdx =>
        idxSlot += 1
        concat(lit("/["),
          element_at(col(POS), idxSlot).cast("string"), lit("]"))
    }
    if (parts.isEmpty) lit("") else concat(parts: _*)
  }

  /** `sdb:nodekey` — real node identity (reference sdb/trx/
    * GetNodeKey.java over [[NodeKeys]]' fused preorder assignment).
    * Resolution order: a fully static target computes on the driver; a
    * variable carrying an identity stash (dynamic path + resource tag)
    * joins the revision's broadcast (path → key) table per row; an
    * inline node-sequence call (scan / temporal axis / item history)
    * evaluates row-wise and resolves through its own path/rev stash.
    * Anything else fails LOUDLY — a silent 0 would impersonate the
    * document node. */
  private def serveNodeKey(store: Store, argE: Jsoniq.Expr,
                           tuples: DataFrame,
                           env: Map[String, Binding]): DataFrame = {
    def headRev(c: String, d: String): Int =
      graft.sources.TemporalTable.mostRecentRevision(store.docPath(c, d))
        .getOrElse(throw new IllegalArgumentException(
          s"sdb:nodekey: no revisions for $c/$d"))
    JsoniqUpdate.staticTargetIn(argE, env) match {
      case Some(t) =>
        val rev = headRev(t.collection, t.doc)
        val key = staticKeyOf(store, t.collection, t.doc, rev, t.steps)
          .getOrElse(throw new IllegalArgumentException(
            "sdb:nodekey: no node at " +
              s"${NodeKeys.renderPath(t.steps)} in ${t.collection}/${t.doc}"))
        return tuples.withColumn("__v", jsonNumber(lit(key)))
      case None => ()
    }
    // let-bound / filter-gated static chains: expand let definitions
    // and strip `[?pred]` filters — the pointer is static (filters gate
    // EXISTENCE, not position), so the key computes on the driver and
    // the row's own value (null = filtered out / absent) gates it
    val expanded = stripFilterPreds(substituteDefs(argE, env))
    if (expanded != argE)
      JsoniqUpdate.staticTargetIn(expanded, env) match {
        case Some(t) =>
          val keyOpt = staticKeyOf(store, t.collection, t.doc,
            headRev(t.collection, t.doc), t.steps)
          val gate = evalScalar(store, argE, tuples, env)
          return gate.withColumn("__v", keyOpt match {
            case Some(k) => when(col("__v").isNull, lit(null))
              .otherwise(jsonNumber(lit(k)))
            // path absent at head: empty sequence
            case None => expr("cast(null as variant)")
          })
        case None => ()
      }
    /** Join `frame`'s per-row printed path against the resource's
      * (rev, path → key) broadcast table. */
    def lookupJoin(frame: DataFrame, pathCol: Column, dres: String,
                   revCol: Option[Column],
                   rawCol: Option[Column] = None): DataFrame = {
      import store.spark.implicits._
      val (c, d, rev0) = decodeDres(dres)
      val revs: Seq[Int] =
        if (rev0 >= 0) Seq(rev0)
        else revCol match {
          // per-row stash: resolve the DISTINCT revisions the rows
          // actually reference (a scan stashes exactly one — the head)
          // instead of paying a key tree per historical revision
          case Some(rc) => frame.select(rc.cast("int").as("__r"))
            .na.drop().distinct().collect().map(_.getInt(0)).toSeq.sorted
          // every per-row binding stashes its revision; a frame with
          // neither a static nor a per-row revision has no defined key
          // space — sweeping 1..head here would hide the bug behind
          // O(history x doc) driver work
          case None => throw new IllegalStateException(
            s"sdb:nodekey over $c/$d: per-row binding carries no " +
              "revision stash")
        }
      // shredded fresh revisions serve DISTRIBUTED: skeleton keys by
      // broadcast, member keys through the offsets table + an
      // executor-side relative walk — the members never collect
      if (revs.size == 1)
        distributedKeyLookup(store, frame, pathCol, c, d, revs.head,
            rawCol) match {
          case Some(df) => return df
          case None => ()
        }
      // several revisions: serve each through the distributed arm where
      // eligible (one filtered branch per revision, unioned — layouts
      // stay on executors), fall back to broadcast (path -> key) pairs
      // ONLY for the rest, with the driver bytes of the whole sweep
      // charged against the node-identity cap — a near-cap document
      // with a long history must fail loudly, never OOM the driver
      // (pathKeys is several times the document size, PER revision)
      if (revs.size > 1 && revCol.isDefined) {
        val rc = revCol.get
        val (shredded, treed) = revs.partition(r =>
          shreddedKeyCtx(store, c, d, r).isDefined)
        if (shredded.nonEmpty) {
          // a row with no stashed revision resolves to the empty
          // sequence (it referenced no stored node) — it must survive
          // the branch split with a null key, not vanish
          val nullPart = frame.filter(rc.isNull)
            .withColumn("__v", expr("cast(null as variant)"))
          val parts = shredded.map(r =>
            distributedKeyLookup(store, frame.filter(rc.cast("int") === r),
              pathCol, c, d, r, rawCol).getOrElse(
              throw new IllegalStateException(
                s"shredded ctx vanished for $c/$d rev $r"))) ++
            (if (treed.isEmpty) Nil
             else Seq(treeLookupJoin(store, c, d, treed,
               frame.filter(rc.cast("int").isInCollection(treed)),
               pathCol, Some(rc)))) :+ nullPart
          return parts.reduce(_ unionByName _)
        }
      }
      treeLookupJoin(store, c, d, revs, frame, pathCol,
        if (rev0 >= 0) None
        else Some(revCol.getOrElse(throw new IllegalStateException(
          "per-row revision stash missing"))))
    }
    def norm(c: Column): Column = regexp_replace(c, "/\\[\\]$", "")
    def peel(e: Jsoniq.Expr, suf: List[Either[String, Int]])
        : (Jsoniq.Expr, List[Either[String, Int]]) = e match {
      case Jsoniq.Deref(b, f) => peel(b, Left(f) :: suf)
      case Jsoniq.ArrayIndex(b, Jsoniq.NumLit(t))
          if !t.contains(".") && !t.startsWith("-") =>
        peel(b, Right(t.toInt) :: suf)
      case other => (other, suf)
    }
    val (core, suffix) = peel(argE, Nil)
    core match {
      case Jsoniq.VarRef(n) => env.get(n) match {
        case Some(ItemVar(_, _, aux)) if aux.contains("dres") &&
            (aux.contains("ipath") || aux.contains("dpath") ||
              aux.contains("path")) =>
          // identity path first: scan hits print no self path for
          // array-member CAS hits but stash their concrete position
          val base = norm(col(aux.getOrElse("ipath",
            aux.getOrElse("dpath", aux("path")))))
          val pathCol =
            if (suffix.isEmpty) base
            else concat(base, lit(NodeKeys.renderPath(suffix)))
          lookupJoin(tuples, pathCol, aux("dres"),
            aux.get("rev").map(col), aux.get("sraw").map(col))
        case _ => throw new UnsupportedOperationException(
          s"sdb:nodekey over $$$n: the binding carries no node identity" +
            " (JSON document chains and index/temporal node sequences do)")
      }
      case call @ Jsoniq.Call(_, _) =>
        resourceOfNodeSource(store, call, env) match {
          case Some(dres) =>
            val s = evalSeqRows(store, argE, tuples, env)
            require(s.columns.contains("__spath"),
              "sdb:nodekey: node source emitted no path stash")
            val pc = if (s.columns.contains("__sipath")) col("__sipath")
              else col("__spath")
            // the peeled deref/index suffix addresses a node INSIDE
            // the hit — its path appends to the hit's own (same rule
            // as the VarRef arm)
            val pathC =
              if (suffix.isEmpty) norm(pc)
              else concat(norm(pc), lit(NodeKeys.renderPath(suffix)))
            lookupJoin(s, pathC, dres,
              if (s.columns.contains("__srev")) Some(col("__srev"))
              else None,
              if (s.columns.contains("__sraw")) Some(col("__sraw"))
              else None)
              .drop("__spath", "__sppath", "__sipath", "__srev",
                "__sprev", "__snext", "__sraw")
              // scalar contract: the caller's columns + __v only (the
              // eval frame's own item/pos would collide downstream)
              .drop(ITEM, POS)
          case None => throw new UnsupportedOperationException(
            s"sdb:nodekey over ${call.name}(...): not a node source")
        }
      case other => throw new UnsupportedOperationException(
        s"sdb:nodekey over ${other.getClass.getSimpleName}: no identity")
    }
  }

  /** Driver-tree arm of per-row node-key resolution: broadcast every
    * revision's (rev, path, key) pairs and left-join the frame's
    * printed path (+ revision) against them. The DRIVER cost of the
    * whole sweep — each revision's tree plus its rendered pathKeys,
    * several times the document's bytes PER revision — is charged
    * against the node-identity cap UP FRONT: a near-cap document with
    * a long history fails loudly instead of OOMing the driver after
    * the per-revision checks each passed individually. */
  private def treeLookupJoin(store: Store, c: String, d: String,
                             revs: Seq[Int], frame: DataFrame,
                             pathCol: Column,
                             revCol: Option[Column]): DataFrame = {
    import store.spark.implicits._
    val cap = sys.props.get("graft.nodekeys.maxDriverBytes")
      .map(_.toLong).getOrElse(64L << 20)
    val sweep = revs.map(r => store.docLenOf(c, d, r)).sum
    if (sweep > cap) throw new UnsupportedOperationException(
      s"sdb:nodekey over $c/$d: resolving ${revs.size} revisions " +
        s"(${revs.min}..${revs.max}) materializes ~$sweep bytes of key " +
        s"trees on the driver, over the node-identity cap ($cap; " +
        "-Dgraft.nodekeys.maxDriverBytes)")
    val pk = revs.flatMap(r => store.keyTreeOf(c, d, r).pathKeys
        .map { case (p, k) => (r, p, k) })
      .toDF("__nkr", "__nkp", "__nkk")
    val cond = revCol match {
      case None => pathCol === col("__nkp")
      case Some(rc) => pathCol === col("__nkp") &&
        rc.cast("int") === col("__nkr")
    }
    frame.join(broadcast(pk), cond, "left")
      .withColumn("__v", when(col("__nkk").isNull, lit(null))
        .otherwise(jsonNumber(col("__nkk"))))
      .drop("__nkr", "__nkp", "__nkk")
  }

  /** One elided entry's key state inside a [[ShredKeyCtx]]. A FRESH
    * revision has `runs = None` (current position == base position) and
    * no patches; an update-derived revision composes runs of UNTOUCHED
    * base members (keys from the base revision's offsets sidecar —
    * still fully distributed) with a FEW driver-held patched/inserted
    * member trees carrying absolute keys. */
  private[query] final case class EntryKeyCtx(
      chain: List[String],
      base: Long,
      total0: Long,
      layout: DataFrame,
      offsets: DataFrame, // narrow (idx, __nk_n, __nk_off) — no member text
      runs: Option[Seq[(Int, Int, Int)]], // (curStart, baseStart, len)
      patched: Map[Int, NodeKeys.KTree])

  /** Shared prelude of shredded-revision key resolution: the base
    * revision `rev0` whose offsets sidecar serves untouched members,
    * the per-entry key states, and the hybrid skeleton tree (skeleton
    * nodes with keys and kinds; elided arrays as empty KArr nodes whose
    * member ranges live in the entries). An update-derived revision's
    * ctx REPLAYS the recorded edit logs against the base ctx
    * ([[replayShredKeys]]) — `sdb:nodekey`/`sdb:select-item` keep
    * serving distributed after `replace json`, like the reference's
    * persisted page-tree keys (JsonNodeTrxImpl insert paths). None =
    * not eligible (unshredded base, over-cap skeleton, or an edit the
    * replay cannot express — the driver-tree path takes over with its
    * own loud cap). */
  private[query] final case class ShredKeyCtx(
      rev0: Int,
      entries: Seq[EntryKeyCtx],
      skTree: NodeKeys.KTree,
      skKeys: Seq[(String, Long)],
      maxKey: Long)

  private def shreddedKeyCtx(store: Store, c: String, d: String,
                             rev: Int): Option[ShredKeyCtx] = {
    // walk the edit chain down to its fresh-numbered base revision
    var r0 = rev
    var logs = List.empty[Seq[NodeKeys.Edit]]
    var cont = true
    while (cont && r0 > 1) store.readEditLog(c, d, r0) match {
      case Some(es) => logs = es :: logs; r0 -= 1
      case None => cont = false
    }
    val edits = logs.flatten
    if (edits.isEmpty) freshShredKeyCtx(store, c, d, r0)
    else {
      val path = store.docPath(c, d)
      store.shredCtxCache.getOrElseUpdate((path, rev),
        freshShredKeyCtx(store, c, d, r0)
          .flatMap(replayShredKeys(store, _, edits)))
    }
  }

  private def freshShredKeyCtx(store: Store, c: String, d: String,
                               rev: Int): Option[ShredKeyCtx] = {
    val entries = store.shredEntries(c, d, Some(rev))
      .filter(_.kind == "json")
    if (entries.isEmpty) return None
    val scanCap = sys.props.get("graft.scan.maxDriverBytes").map(_.toLong)
      .getOrElse(256L << 20)
    if (store.docLenOf(c, d, rev) > scanCap) return None
    // identity needs the SOURCE-ORDER member text; tables written
    // before round 13 lack it — the driver-tree path takes over
    if (!entries.forall(en => store.readShredEntry(c, d, Some(rev), en)
        .columns.contains("member_raw"))) return None
    val layouts = entries.map(en =>
      en.steps -> store.memberKeyLayout(c, d, rev, en)).toMap
    val sk = store.skeletonOf(c, d, rev, entries.map(_.steps),
      () => store.doc(c, d, Some(rev)).collect().head.getString(0))
    val (skTree, bases, maxKey) = NodeKeys.buildSkeletonTree(sk.root,
      sk.slots, layouts.map { case (steps, (_, _, total)) => steps -> total })
    val ectxs = entries.map { en =>
      val (layout, offsets, total) = layouts(en.steps)
      EntryKeyCtx(en.steps, bases(en.steps), total, layout, offsets,
        None, Map.empty)
    }
    Some(ShredKeyCtx(rev, ectxs, skTree, skTree.pathKeys, maxKey))
  }

  /** An edit shape the layout replay cannot express — falls back to
    * the driver-tree path (which caps loudly). */
  private final class ReplayUnsupported(val why: String)
    extends RuntimeException(why)

  /** Replay recorded edit logs against a fresh base ctx, producing the
    * update-derived revision's key layout WITHOUT materializing the
    * document: untouched members keep serving from the base offsets
    * sidecar through a position translation (a handful of contiguous
    * runs — edits are few), touched members materialize ONE base row
    * each into a driver-held tree (bytes charged against the
    * node-identity cap), and skeleton-level edits replay on the hybrid
    * tree with the same [[NodeKeys.applyEdit]] key discipline the
    * driver-tree path uses — fresh keys mint from the SAME global
    * counter in the SAME order, so every key equals the full-tree
    * replay's verbatim. None = an edit the layout model cannot express
    * (e.g. replacing an elided array wholesale invalidates nothing —
    * that IS expressible; a field literally named like a chain is not). */
  private def replayShredKeys(store: Store, base: ShredKeyCtx,
                              edits: Seq[NodeKeys.Edit])
      : Option[ShredKeyCtx] = {
    import scala.collection.mutable
    // nested chains are not replayable: a member-level edit of the
    // outer entry would invalidate the inner entry's whole layout
    val chains0 = base.entries.map(_.chain)
    if (chains0.exists(a => chains0.exists(b =>
        a != b && b.startsWith(a)))) return None
    val cap = sys.props.get("graft.nodekeys.maxDriverBytes")
      .map(_.toLong).getOrElse(64L << 20)
    var patchedBytes = 0L
    var globalMax = base.maxKey
    val skTree = base.skTree.deepCopy()

    final class EState(val en: EntryKeyCtx) {
      var chain: List[String] = en.chain
      var alive: Boolean = true
      // None until the first member-level structural/materializing op;
      // then alternating untouched runs (baseStart, len) and one-member
      // driver trees, in CURRENT order
      var segs: mutable.ArrayBuffer[Either[(Int, Int), NodeKeys.KTree]] = _
      def ensureSegs(): Unit = if (segs == null) {
        val count0 = en.layout.agg(max(col("idx"))).head.getAs[Number](0)
          .intValue + 1
        segs = mutable.ArrayBuffer(Left((0, count0)))
      }
      def totalLen: Int =
        segs.map { case Left((_, l)) => l; case Right(_) => 1 }.sum
      /** (segment index, offset inside it) of the current position. */
      def locate(cur: Int): (Int, Int) = {
        var at = 0
        segs.zipWithIndex.foreach { case (s, i) =>
          val l = s match { case Left((_, sl)) => sl; case Right(_) => 1 }
          if (cur < at + l) return (i, cur - at)
          at += l
        }
        throw new ReplayUnsupported(
          s"member position $cur out of bounds during replay")
      }
      def deleteAt(cur: Int): Unit = locate(cur) match {
        case (i, _) if segs(i).isRight => segs.remove(i); ()
        case (i, o) =>
          val Left((bs, l)) = segs(i): @unchecked
          val repl = Seq(Left((bs, o)), Left((bs + o + 1, l - o - 1)))
            .filter { case Left((_, sl)) => sl > 0; case _ => true }
          segs.remove(i)
          segs.insertAll(i, repl.map(x =>
            x: Either[(Int, Int), NodeKeys.KTree]))
      }
      def insertAt(cur: Int, t: NodeKeys.KTree): Unit = {
        if (cur == totalLen) { segs += Right(t); return }
        locate(cur) match {
          case (i, 0) => segs.insert(i, Right(t))
          case (i, o) =>
            val Left((bs, l)) = segs(i): @unchecked
            segs.remove(i)
            segs.insertAll(i, Seq(
              Left((bs, o)): Either[(Int, Int), NodeKeys.KTree],
              Right(t), Left((bs + o, l - o))))
        }
      }
      /** Turn the member at `cur` into a driver tree holding its
        * absolute keys (reads ONE base offsets row). */
      def materialize(cur: Int): NodeKeys.KTree = locate(cur) match {
        case (i, _) if segs(i).isRight =>
          segs(i).toOption.get
        case (i, o) =>
          val Left((bs, l)) = segs(i): @unchecked
          val baseIdx = bs + o
          val row = en.layout.filter(col("idx") === baseIdx)
            .select(col("__nk_off"), col("member_raw")).collect()
          if (row.isEmpty) throw new ReplayUnsupported(
            s"base member $baseIdx missing during replay")
          val raw = row.head.getString(1)
          patchedBytes += raw.length
          if (patchedBytes > cap) throw new ReplayUnsupported(
            s"patched-member bytes exceed the node-identity cap ($cap)")
          val t = NodeKeys.build(raw)
          NodeKeys.rebase(t.root, en.base + row.head.getLong(0) - 1)
          t.maxKey = globalMax
          val repl = Seq(
            Left((bs, o)): Either[(Int, Int), NodeKeys.KTree],
            Right(t), Left((bs + o + 1, l - o - 1)))
            .filter { case Left((_, sl)) => sl > 0; case _ => true }
          segs.remove(i)
          segs.insertAll(i, repl)
          t
      }
      def replaceAt(cur: Int, t: NodeKeys.KTree): Unit = locate(cur) match {
        case (i, _) if segs(i).isRight => segs(i) = Right(t)
        case _ => throw new IllegalStateException(
          "replaceAt on an unmaterialized member")
      }
    }
    val states = base.entries.map(new EState(_))
    def asLefts(steps: List[String]): List[Either[String, Int]] =
      steps.map(Left(_): Either[String, Int])
    def freshTree(v: String): NodeKeys.KTree = {
      val t = NodeKeys.build(v)
      val m = t.maxKey
      NodeKeys.rebase(t.root, globalMax)
      globalMax += m
      new NodeKeys.KTree(t.root, globalMax)
    }
    def applySkeleton(e: NodeKeys.Edit): Unit = {
      skTree.maxKey = globalMax
      NodeKeys.applyEdit(skTree, e)
      globalMax = skTree.maxKey
    }
    def renamedTo(e: NodeKeys.Edit): String =
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readValue(e.valueJson.get, classOf[String])
    def topFieldsOf(v: String): Set[String] = {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(v)
      if (!n.isObject) Set.empty
      else {
        import scala.jdk.CollectionConverters._
        n.fieldNames().asScala.toSet
      }
    }
    try {
      edits.foreach { e =>
        // a rename whose NEW name lands on another alive entry's chain
        // OVERWRITES that chain's field (applyAll's rename semantics);
        // the layout bookkeeping cannot express two entries fused into
        // one — fall back to the driver-tree replay (ground truth)
        if (e.kind == "rename" && e.ptr.nonEmpty) {
          val newPtr = e.ptr.init :+
            (Left(renamedTo(e)): Either[String, Int])
          if (newPtr != e.ptr && states.exists(st => st.alive &&
              st.chain.length >= newPtr.length &&
              asLefts(st.chain.take(newPtr.length)) == newPtr))
            throw new ReplayUnsupported(
              "rename overwrites a shredded chain field")
        }
        states.filter(_.alive).find(st =>
            e.ptr.take(st.chain.length) == asLefts(st.chain)) match {
          case Some(st) if e.ptr.length == st.chain.length =>
            // the elided array node itself
            e.kind match {
              case "append" =>
                st.ensureSegs()
                st.segs += Right(freshTree(e.valueJson.get))
                ()
              case "insert" => e.pos match {
                case Some(i) =>
                  st.ensureSegs()
                  st.insertAt(i, freshTree(e.valueJson.get))
                case None => throw new ReplayUnsupported(
                  "object insert targeting an elided array")
              }
              case "replace" | "delete" =>
                // the whole member range dies; the literal replacement
                // (if any) grafts into the skeleton with fresh keys —
                // exactly what the full-tree replay mints
                st.alive = false
                applySkeleton(e)
              case "rename" =>
                applySkeleton(e)
                st.chain = st.chain.updated(st.chain.length - 1, renamedTo(e))
              case other => throw new ReplayUnsupported(
                s"edit $other at an elided array")
            }
          case Some(st) => e.ptr(st.chain.length) match {
            case Right(cur) =>
              val rest = e.ptr.drop(st.chain.length + 1)
              st.ensureSegs()
              if (rest.isEmpty && e.kind == "delete") st.deleteAt(cur)
              else if (rest.isEmpty && e.kind == "replace") {
                val v = e.valueJson.get
                val t = st.materialize(cur)
                val nk = NodeKeys.kindOfJson(v)
                val sameKindPrim = t.root.kind == nk &&
                  nk != NodeKeys.KObj && nk != NodeKeys.KArr
                // same-kind primitive replace keeps the node (and its
                // key); anything else re-mints the member subtree
                if (!sameKindPrim) st.replaceAt(cur, freshTree(v))
              } else {
                val t = st.materialize(cur)
                t.maxKey = globalMax
                NodeKeys.applyEdit(t,
                  NodeKeys.Edit(e.kind, rest, e.valueJson, e.pos))
                globalMax = t.maxKey
              }
            case Left(_) => throw new ReplayUnsupported(
              "field named like an elided chain")
          }
          case None =>
            // ancestor-of-chain pointers: delete/replace kill the
            // chain's member range, a colliding object-insert does too,
            // rename shifts the chain's path; everything replays on the
            // skeleton (the elided node lives in the hybrid tree)
            states.filter(_.alive).foreach { st =>
              val k = e.ptr.length
              // k == 0 (root-level edits, ptr = Nil) participates:
              // a root replace/delete kills every chain, and a root
              // object-insert whose value overwrites a top-level chain
              // field kills that chain (applyAll's insert overwrites)
              if (k < st.chain.length &&
                  e.ptr == asLefts(st.chain.take(k))) {
                e.kind match {
                  case "delete" | "replace" => st.alive = false
                  case "rename" if k > 0 =>
                    st.chain = st.chain.updated(k - 1, renamedTo(e))
                  case "insert" if e.pos.isEmpty =>
                    if (topFieldsOf(e.valueJson.get).contains(st.chain(k)))
                      st.alive = false
                  case _ => ()
                }
              }
            }
            applySkeleton(e)
        }
      }
    } catch {
      case _: ReplayUnsupported => return None
      case _: IllegalStateException => return None // applyEdit mismatch
    }
    val entries2 = states.filter(_.alive).map { st =>
      if (st.segs == null)
        EntryKeyCtx(st.chain, st.en.base, st.en.total0, st.en.layout,
          st.en.offsets, None, Map.empty)
      else {
        var cur = 0
        val runs = Seq.newBuilder[(Int, Int, Int)]
        val patched = Map.newBuilder[Int, NodeKeys.KTree]
        st.segs.foreach {
          case Left((bs, l)) => runs += ((cur, bs, l)); cur += l
          case Right(t) => patched += (cur -> t); cur += 1
        }
        EntryKeyCtx(st.chain, st.en.base, st.en.total0, st.en.layout,
          st.en.offsets, Some(runs.result()), patched.result())
      }
    }
    Some(ShredKeyCtx(base.rev0, entries2, skTree, skTree.pathKeys,
      globalMax))
  }

  /** Current member position -> base position (None = the member is
    * not an untouched base member: inserted, patched, or absent). */
  private def baseIdxOf(en: EntryKeyCtx, cur: Int): Option[Int] =
    en.runs match {
      case None => Some(cur)
      case Some(rs) => rs.collectFirst {
        case (cs, bs, l) if cur >= cs && cur < cs + l => bs + (cur - cs) }
    }
  /** Base member position -> current position (None = deleted or
    * patched out of the untouched runs). */
  private def curIdxOf(en: EntryKeyCtx, base: Int): Option[Int] =
    en.runs match {
      case None => Some(base)
      case Some(rs) => rs.collectFirst {
        case (cs, bs, l) if base >= bs && base < bs + l => cs + (base - bs) }
    }

  /** A STATIC pointer's key over a shredded revision: skeleton
    * pointers read the hybrid tree; pointers into an elided member
    * list read ONE offsets row (a filtered distributed read — the
    * document never collects) or a driver-held patch. Outer None =
    * pointer form not eligible here (the caller's tree path takes
    * over); inner None = resolved, NO NODE at the pointer. */
  private def staticShreddedKey(store: Store, ctx: ShredKeyCtx,
                                steps: List[Either[String, Int]])
      : Option[Option[Long]] = {
    // member-list pointer: entry chain + [idx] + rest
    ctx.entries.foreach { en =>
      val n = en.chain.length
      if (steps.length > n &&
          steps.take(n) == en.chain.map(Left(_): Either[String, Int])) {
        steps(n) match {
          case Right(idx) =>
            val rest = steps.drop(n + 1)
            en.patched.get(idx) match {
              case Some(t) => return Some(t.lookup(rest).map(_.key))
              case None => ()
            }
            val baseIdx = baseIdxOf(en, idx) match {
              case Some(b) => b
              case None => return Some(None) // deleted/absent member
            }
            val row = en.layout.filter(col("idx") === baseIdx)
              .select(col("__nk_off"), col("member_raw")).collect()
            if (row.isEmpty) return Some(None) // absent member
            return Some(NodeKeys.relativeOffset(row.head.getString(1), rest)
              .map(en.base + row.head.getLong(0) + _))
          case _ => return None // field named like the chain: tree path
        }
      }
    }
    Some(ctx.skTree.lookup(steps).map(_.key))
  }

  /** Inverse key lookup over a shredded revision (select-item):
    * skeleton keys answer from the hybrid tree; patched member keys
    * (retained AND freshly minted) from their driver trees; a key
    * inside an UNTOUCHED member reads exactly ONE base row by its
    * offset interval and inverts the relative preorder walk. Also
    * reports whether the node is an ARRAY (sdb:path's trailing `/[]`
    * rendering). */
  private def shreddedPathOfKey(store: Store, ctx: ShredKeyCtx, key: Long)
      : Option[(List[Either[String, Int]], Boolean)] = {
    ctx.skTree.pathOfKey(key) match {
      case Some(ptr) =>
        return Some((ptr,
          ctx.skTree.lookup(ptr).exists(_.kind == NodeKeys.KArr)))
      case None => ()
    }
    // patched members BEFORE base ranges: a patched member's retained
    // keys also sit in the base offsets range, but the patch tree is
    // authoritative for its current shape
    ctx.entries.foreach { en =>
      en.patched.foreach { case (ci, t) =>
        t.pathOfKey(key).foreach { sub =>
          return Some((en.chain.map(Left(_): Either[String, Int]) ++
            (Right(ci) :: sub),
            t.lookup(sub).exists(_.kind == NodeKeys.KArr)))
        }
      }
    }
    ctx.entries.foreach { en =>
      if (key >= en.base && key < en.base + en.total0) {
        val k = key - en.base
        // two pushed point reads, never a members x offsets join: the
        // range probe scans only the narrow offsets sidecar (__nk_off
        // ascends with idx, so row-group stats prune to ~one group),
        // and the member text reads by idx EQUALITY — pushed into the
        // member scan instead of streaming every member through a
        // 1-row broadcast probe
        val offRows = en.offsets
          .filter(col("__nk_off") <= k &&
            lit(k) < col("__nk_off") + col("__nk_n"))
          .select(col("idx"), col("__nk_off"))
          .collect()
        if (offRows.isEmpty) return None
        val baseIdx = offRows.head.getAs[Number](0).longValue
        val off = offRows.head.getLong(1)
        curIdxOf(en, baseIdx.toInt) match {
          case Some(ci) =>
            val rawRows = en.layout.filter(col("idx") === baseIdx)
              .select(col("member_raw")).collect()
            if (rawRows.isEmpty) return None
            val rel = k - off
            val sub = NodeKeys.build(rawRows.head.getString(0))
            val subPtr = sub.pathOfKey(rel + 1)
              .getOrElse(throw new IllegalStateException(
                s"member offsets inconsistent at key $key"))
            val isArr = sub.lookup(subPtr).exists(_.kind == NodeKeys.KArr)
            return Some((en.chain.map(Left(_): Either[String, Int]) ++
              (Right(ci) :: subPtr), isArr))
          case None => return None // deleted member: the key is dead
        }
      }
    }
    None
  }

  /** Shared resolution of a `select-item`-shaped call: the document,
    * its optional literal revision, the head revision actually used,
    * the key's concrete pointer and the node's arrayness. */
  private def selectItemResolve(store: Store, name: String,
                                args: Seq[Jsoniq.Expr])
      : (String, String, Option[Int], Int,
         List[Either[String, Int]], Boolean) = {
    import Jsoniq._
    require(args.size == 2, s"$name(doc, nodeKey)")
    val (c, d, rev) = args.head match {
      case Call("jn:doc", Seq(StrLit(c0), StrLit(d0))) => (c0, d0, None)
      case Call("jn:doc", Seq(StrLit(c0), StrLit(d0), NumLit(t)))
          if !t.contains(".") => (c0, d0, Some(t.toInt))
      case other => throw new UnsupportedOperationException(
        s"$name needs a jn:doc(collection, doc[, rev]) target, got $other")
    }
    val key = args(1) match {
      case NumLit(t) if !t.contains(".") => t.toLong
      case other => throw new UnsupportedOperationException(
        s"$name node-key literal, got $other")
    }
    val headRev = rev.getOrElse(graft.sources.TemporalTable
      .mostRecentRevision(store.docPath(c, d))
      .getOrElse(throw new IllegalArgumentException(
        s"$name: no revisions for $c/$d")))
    // shredded fresh revisions invert the key without the driver tree
    // ([[shreddedPathOfKey]] — one member row read)
    val (ptr, isArr) = (shreddedKeyCtx(store, c, d, headRev) match {
      case Some(ctx) => shreddedPathOfKey(store, ctx, key)
      case None =>
        val t = store.keyTreeOf(c, d, headRev)
        t.pathOfKey(key).map(p =>
          (p, t.lookup(p).exists(_.kind == NodeKeys.KArr)))
    }).getOrElse(throw new IllegalArgumentException(
      s"$name: no node with key $key in $c/$d rev $headRev"))
    (c, d, rev, headRev, ptr, isArr)
  }

  /** A STATIC pointer's key at one revision: shredded fresh revisions
    * resolve without the driver tree ([[staticShreddedKey]]); anything
    * else builds the (capped) key tree. None = no node there. */
  private def staticKeyOf(store: Store, c: String, d: String, rev: Int,
                          steps: List[Either[String, Int]]): Option[Long] =
    shreddedKeyCtx(store, c, d, rev)
      .flatMap(staticShreddedKey(store, _, steps)) match {
      case Some(resolved) => resolved
      case None => store.keyTreeOf(c, d, rev).lookup(steps).map(_.key)
    }

  /** Distributed node-key resolution over ONE shredded fresh revision:
    * the skeleton's (path, key) pairs broadcast (O(elided-document) on
    * the driver — [[NodeKeys.assignSkeleton]]), member-table keys join
    * through the bucketed offsets layout
    * ([[Store.memberKeyLayout]]) with an executor-side relative
    * preorder walk ([[JsonRelativeKey]]) — the members themselves
    * never funnel through the driver, matching the reference's
    * node-page access pattern (a moveTo never materializes the
    * document). None = not eligible (unshredded, edit-log revision —
    * keys there inherit through the replay — or an over-cap skeleton):
    * the caller's driver-tree path takes over with its own cap. */
  private def distributedKeyLookup(store: Store, frame: DataFrame,
                                   pathCol: Column, c: String, d: String,
                                   rev: Int,
                                   rawCol: Option[Column] = None)
      : Option[DataFrame] = {
    val ctx = shreddedKeyCtx(store, c, d, rev) match {
      case Some(x) => x
      case None => return None
    }
    import store.spark.implicits._
    val gb = org.apache.spark.sql.graftbridge.GraftBridge
    var out = frame.join(broadcast(ctx.skKeys.toDF("__nkp", "__nkk")),
      pathCol === col("__nkp"), "left")
    var keyCol: Column = col("__nkk")
    val dropCols = Seq.newBuilder[String]
    dropCols ++= Seq("__nkp", "__nkk")
    ctx.entries.zipWithIndex.foreach { case (en, i) =>
      val chainPath = en.chain.map("/" + NodeKeys.escSeg(_)).mkString
      val esc = java.util.regex.Pattern.quote(chainPath)
      val pat = s"^$esc/\\[(\\d+)\\](.*)$$"
      // the join key MATERIALIZES as a column first — an equi-join
      // Catalyst plans as a hash join; a computed-key condition risks
      // a nested-loop plan (measured: 54 s vs sub-second on the
      // 1M-member bench fixture)
      val idxS = regexp_extract(pathCol, pat, 1)
      out = out
        .withColumn(s"__ji$i",
          when(idxS =!= "", idxS.cast("long")).otherwise(lit(null)))
        .withColumn(s"__jr$i", regexp_extract(pathCol, pat, 2))
      // patched/inserted members (update-derived revisions): a small
      // driver map, broadcast and equi-joined on (position, rel path)
      if (en.patched.nonEmpty) {
        val pdf = en.patched.toSeq.flatMap { case (ci, t) =>
          t.pathKeys.map { case (p, k) => (ci.toLong, p, k) } }
          .toDF(s"__pi$i", s"__pp$i", s"__pk$i")
        out = out.join(broadcast(pdf),
          col(s"__ji$i") === col(s"__pi$i") &&
            col(s"__jr$i") === col(s"__pp$i"), "left")
        dropCols ++= Seq(s"__pi$i", s"__pp$i", s"__pk$i")
      }
      // untouched members: translate the current position to its base
      // position (identity for fresh revisions; a handful of run
      // shifts for update-derived ones), then the base offsets join
      val cur = col(s"__ji$i")
      en.runs match {
        case Some(rs) if rs.size > RunCaseMax =>
          // deep run translations join flat instead of a CASE that
          // falls out of codegen (same discipline as readShredEntry);
          // runs are disjoint in CURRENT-index space, left join keeps
          // unmatched (patched/deleted) positions as null base
          val rdf = rs.map { case (cs, bs, l) =>
            (cs.toLong, bs.toLong, l.toLong) }
            .toDF(s"__rc$i", s"__rb$i", s"__rl$i")
          out = out.join(broadcast(rdf),
            cur >= col(s"__rc$i") &&
              cur < col(s"__rc$i") + col(s"__rl$i"), "left")
            .withColumn(s"__jo$i",
              cur - col(s"__rc$i") + col(s"__rb$i"))
          dropCols ++= Seq(s"__rc$i", s"__rb$i", s"__rl$i")
        case Some(rs) =>
          out = out.withColumn(s"__jo$i",
            rs.foldLeft(lit(null).cast("long")) {
              case (acc, (cs, bs, l)) =>
                coalesce(acc,
                  when(cur >= cs && cur < cs + l, cur - cs + bs)) })
        case None => out = out.withColumn(s"__jo$i", cur)
      }
      val rawSrc: Column = rawCol match {
        case Some(raw) =>
          // the hit CARRIES its member's source text (scan stash):
          // join only the narrow offsets table — the member table
          // (document bytes) never re-joins, never shuffles. For
          // untouched members the carried text equals the base text
          // the layout would have served; patched members resolve
          // through the __pk broadcast before runKey applies.
          val l = en.offsets.select(col("idx").as(s"__mi$i"),
            col("__nk_off").as(s"__mo$i"))
          out = out.join(l, col(s"__jo$i") === col(s"__mi$i"), "left")
          raw
        case None =>
          val l = en.layout.select(col("idx").as(s"__mi$i"),
            col("member_raw").as(s"__mm$i"), col("__nk_off").as(s"__mo$i"))
          out = out.join(l, col(s"__jo$i") === col(s"__mi$i"), "left")
          dropCols += s"__mm$i"
          col(s"__mm$i")
      }
      // member-self hits (empty rest — CAS member hits, member
      // bindings) skip the relative walk entirely
      val rel = when(col(s"__jr$i") === "", lit(0L))
        .otherwise(gb.column(JsonRelativeKey(
          gb.expression(rawSrc),
          gb.expression(col(s"__jr$i")))))
      val runKey = when(col(s"__mi$i").isNotNull,
        lit(en.base) + col(s"__mo$i") + rel)
      keyCol = coalesce(keyCol,
        if (en.patched.nonEmpty) coalesce(col(s"__pk$i"), runKey)
        else runKey)
      dropCols ++= Seq(s"__ji$i", s"__jr$i", s"__jo$i", s"__mi$i",
        s"__mo$i")
    }
    Some(out.withColumn("__v", when(keyCol.isNull, lit(null))
        .otherwise(jsonNumber(keyCol)))
      .drop(dropCols.result(): _*))
  }

  // ------------------------------------------------------- sequence eval
  /** Evaluate `e` against the tuple stream: returns the stream's columns
    * + (__pos, __item), one row per item. */
  private def evalSeq(store: Store, e: Jsoniq.Expr, tuples: DataFrame,
                      env: Map[String, Binding]): DataFrame =
    shreddedMemberAccess(store, e, tuples, env) match {
      case Some(df) => df
      case None =>
    pointwise(e, env) match {
      case Some(c) =>
        // scalar whose value is computable per tuple with no reshaping
        tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, c)
          .filter(col(ITEM).isNotNull)
      case None => pointwiseSeq(e, env) match {
        case Some(arr) =>
          // the whole sequence as ONE in-row array: a single explode,
          // no re-derived subplans, flat single-level positions
          val keep = tuples.columns
            .filterNot(c2 => c2 == POS || c2 == ITEM).map(col)
          tuples.select(keep :+ posexplode(coalesce(arr, emptyVarr))
              .as(Seq("__p0", ITEM)): _*)
            .withColumn(POS, array(col("__p0").cast("long")))
            .drop("__p0")
        case None => evalSeqRows(store, e, tuples, env)
      }
    }
    }

  /** A doc-rooted STATIC pointer chain that passes a shredded entry at
    * a literal member index serves from ONE member-table row (the idx
    * filter pushes to parquet) instead of walking the whole document
    * variant in one task: `jn:doc(c,d).items[500000].v` is a row read
    * plus an O(member) evaluation, at ANY document size — the
    * reference's moveTo(nodeKey) access pattern. The steps INSIDE the
    * member re-evaluate through the standard machinery (a gensym
    * binding over the member variant), so deref/index semantics are
    * identical by construction. Identity mode skips the path: its
    * bindings need the row-wise POS layout. */
  private def shreddedMemberAccess(store: Store, e: Jsoniq.Expr,
                                   tuples: DataFrame,
                                   env: Map[String, Binding])
      : Option[DataFrame] = {
    import Jsoniq._
    // cheap shape gate before the target resolution
    def spineHasIdx(x: Expr): Boolean = x match {
      case ArrayIndex(b, NumLit(t)) if !t.contains(".") => true
      case ArrayIndex(b, _) => spineHasIdx(b)
      case Deref(b, _) => spineHasIdx(b)
      case _ => false
    }
    e match {
      case Deref(_, _) | ArrayIndex(_, _) if spineHasIdx(e) => ()
      case _ => return None
    }
    if (needsIdentity(env)) return None
    val t = JsoniqUpdate.staticTargetIn(e, env) match {
      case Some(x) => x
      case None => return None
    }
    shreddedMemberRead(store, t.collection, t.doc, None, t.steps).map {
      case (row, mcol, rest) =>
        val v = gensym("shm")
        val frame = tuples.drop(POS, ITEM).crossJoin(broadcast(row))
        val rebuilt = rest.foldLeft(VarRef(v): Expr) {
          case (acc, Left(f)) => Deref(acc, f)
          case (acc, Right(i)) => ArrayIndex(acc, NumLit(i.toString))
        }
        evalSeq(store, rebuilt, frame, env + (v -> ItemVar(mcol)))
    }
  }

  /** The single member row a pointer passes through: (1-row frame with
    * the member variant under a gensym column, that column's name, the
    * pointer steps remaining INSIDE the member). None when the pointer
    * does not cross a shredded entry at a literal index. */
  private def shreddedMemberRead(store: Store, c: String, d: String,
                                 rev: Option[Int],
                                 steps: List[Either[String, Int]])
      : Option[(DataFrame, String, List[Either[String, Int]])] = {
    val entries = store.shredEntries(c, d, rev).filter(_.kind == "json")
    entries.foreach { en =>
      val n = en.steps.length
      if (steps.length > n &&
          steps.take(n) == en.steps.map(Left(_): Either[String, Int])) {
        steps(n) match {
          case Right(i) if i >= 0 =>
            val mcol = gensym("member")
            return Some((store.readShredEntry(c, d, rev, en)
              .filter(col("idx") === i.toLong)
              .select(col("member").as(mcol)),
              mcol, steps.drop(n + 1)))
          case _ => return None // field named like the chain
        }
      }
    }
    None
  }

  /** Row-wise structural evaluation — the general machinery; called
    * directly where hierarchical __pos levels are REQUIRED (positional
    * predicates group matched siblings by their parent prefix). */
  private def evalSeqRows(store: Store, e: Jsoniq.Expr, tuples: DataFrame,
                          env: Map[String, Binding]): DataFrame = {
    import Jsoniq._
    e match {
        case VarRef(name) => env.get(name) match {
          case Some(SeqVar(cn, _)) =>
            tuples
              .select(tuples.columns.map(col) :+
                posexplode(col(cn)).as(Seq("__p0", ITEM)): _*)
              .withColumn(POS, array(col("__p0").cast("long")))
              .drop("__p0")
          case Some(ItemVar(cn, _, _)) =>
            // re-binding an item (`for $x in $n`) under identity mode:
            // one row per tuple, the item's own singleton sequence
            tuples.withColumn(POS, array(lit(0L)))
              .withColumn(ITEM, col(cn))
              .filter(col(ITEM).isNotNull)
          case _ =>
            throw new IllegalArgumentException(s"unbound variable $$$name")
        }
        case SeqCtor(items) =>
          // normalize each part to the tuple columns + (POS, ITEM):
          // parts may carry extra stash columns (scan hits) that would
          // break the union
          val shape = (tuples.columns :+ POS :+ ITEM).map(col)
          val parts = items.zipWithIndex.map { case (it, i) =>
            evalSeq(store, it, tuples, env)
              .withColumn(POS, concat(array(lit(i.toLong)), col(POS)))
              .select(shape: _*)
          }
          if (parts.isEmpty)
            tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, vnull)
              .filter(lit(false))
          else parts.reduce(_ unionByName _)
        case Range(fromE, toE) =>
          val withF = evalScalar(store, fromE, tuples, env)
          val f = gensym("rf")
          val step1 = withF.withColumnRenamed("__v", f)
          val step2 = evalScalar(store, toE, step1, env)
          step2
            .select(step2.columns.map(col) :+ posexplode(
              // XQuery `a to b` with a > b is the EMPTY sequence, but
              // Spark's sequence(5, 1) counts DOWN — guard so the explode
              // yields zero rows instead of a descending run.
              expr(s"case when try_cast($f as long) <= try_cast(__v as long)" +
                s" then sequence(try_cast($f as long), try_cast(__v as long)) end"))
              .as(Seq("__p0", "__n")): _*)
            .withColumn(POS, array(col("__p0").cast("long")))
            .withColumn(ITEM, jsonNumber(col("__n")))
            .drop("__p0", "__n", "__v", f)
        case Deref(base, field) =>
          val b = evalSeq(store, base, tuples, env)
          b.withColumn(ITEM, expr(
              s"variant_get($ITEM, '${fieldPath(field).replace("'", "''")}')"))
            .filter(col(ITEM).isNotNull)
        case DescendantDeref(base, field) =>
          walkJoin(evalSeq(store, base, tuples, env), walkCollect(_, field))
        // -- XPath-lite steps over the XmlItem encoding --
        case ChildStep(_, _)
            if shreddedDocMembers(store, e, env).isDefined =>
          // XML child-step chain over a stored document whose element
          // child list is shredded ($doc/site/people/person): the
          // member table IS the step's sequence — distributed, never
          // one whole-document variant walk
          attachToTuples(shreddedDocMembers(store, e, env).get._1,
            tuples, env)
        case ChildStep(base, name) =>
          val kids = explodeChildren(evalSeq(store, base, tuples, env))
          kids.filter(expr(s"schema_of_variant($ITEM)").startsWith("OBJECT") &&
            expr(s"cast(variant_get($ITEM, '$$[''~n'']') as string)") === name)
        case TextStep(base) =>
          explodeChildren(evalSeq(store, base, tuples, env))
            .filter(expr(s"schema_of_variant($ITEM)") === "STRING")
        case AttrStep(base, name) =>
          val b = evalSeq(store, base, tuples, env)
          val esc = name.replace("'", "''")
          b.withColumn(ITEM,
              expr(s"variant_get($ITEM, '$$[''~a''][''$esc'']')"))
            .filter(col(ITEM).isNotNull)
        case DescStep(base, name) =>
          walkJoin(evalSeq(store, base, tuples, env),
            XmlItem.walkElements(_, name))
        case FilterPred(Unbox(dc), pred)
            if shreddedTypedFilter(store, dc, pred, env).isDefined =>
          // typed-shred fast path: the predicate runs on plain parquet
          // columns BEFORE members materialize as variants — pushed
          // filters + column pruning, the direct-DataFrame plan
          attachToTuples(shreddedTypedFilter(store, dc, pred, env).get,
            tuples, env)
        case FilterPred(chain, pred)
            if shreddedXmlTypedFilter(store, chain, pred, env).isDefined =>
          // typed XML fast path: trailing-name element chain + [?pred]
          // over attribute/child-text columns — the name filter and the
          // predicate both run on plain parquet columns, no per-member
          // variant decode
          attachToTuples(
            shreddedXmlTypedFilter(store, chain, pred, env).get,
            tuples, env)
        case Unbox(base)
            if shreddedDocMembers(store, base, env).exists(_._2) =>
          // shredded JSON array (root or an object-rooted document's
          // field chain; pure=true ⟺ kind=json): serve members from the
          // member table (distributed) instead of exploding one
          // multi-MB variant row in a single task. XML element chains
          // (pure=false) fall through — unboxing an element sequence is
          // empty under the unshredded walk (elements are objects, not
          // arrays), and the shred must not change that answer.
          attachToTuples(shreddedDocMembers(store, base, env).get._1,
            tuples, env)
        case Unbox(base) =>
          val b = evalSeq(store, base, tuples, env)
            .withColumn("__arr", expr(s"try_cast($ITEM as array<variant>)"))
            .filter(col("__arr").isNotNull)
          val keep = b.columns
            .filter(c => c != ITEM && c != "__arr" && c != POS).map(col)
          b.select(keep :+ col(POS) :+
              posexplode(col("__arr")).as(Seq("__p0", ITEM)): _*)
            .withColumn(POS, concat(col(POS), array(col("__p0").cast("long"))))
            .drop("__p0")
        case ArrayIndex(base, Unary("-", NumLit(t))) if !t.contains(".") =>
          val b = evalSeq(store, base, tuples, env)
          b.withColumn(ITEM, element_at(
              expr(s"try_cast($ITEM as array<variant>)"), -t.toInt))
            .filter(col(ITEM).isNotNull)
        case ArrayIndex(base, idxE)
            if isXmlStep(base) &&
              (idxE.isInstanceOf[NumLit] || idxE == Call("last", Nil)) =>
          // XPath positional predicate on a step: 1-BASED rank among the
          // matched siblings of the SAME parent (every step appends one
          // POS level, so the parent is the POS prefix); [last()] keeps
          // the highest rank per parent. The step itself must evaluate
          // ROW-wise — the flat fast path would collapse all parents
          // into one sibling group.
          val b = evalSeqRows(store, base, tuples, env)
          val prefix = expr(s"slice($POS, 1, size($POS) - 1)")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(ORD), prefix).orderBy(col(POS))
          val ranked = b.withColumn("__rk", row_number().over(w))
            .withColumn("__rn", count(lit(1)).over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col(ORD), prefix)))
          val kept = idxE match {
            case NumLit(t) => ranked.filter(col("__rk") === t.toInt)
            case _ => ranked.filter(col("__rk") === col("__rn"))
          }
          kept.drop("__rk", "__rn")
        case ArrayIndex(base, idxE) if !idxE.isInstanceOf[NumLit] =>
          // non-literal bracket = XPath-style predicate ([@id = "x"],
          // [?-less boolean filters); literal integers stay 0-based
          // array indexing (the corpus' JSON dialect). Stay ROW-wise:
          // callers that reached this path need hierarchical positions
          // (the dispatcher's flat path has its own bracket handling)
          evalSeqRows(store, FilterPred(base, idxE), tuples, env)
        case ArrayIndex(base, idxE) =>
          val b = evalSeq(store, base, tuples, env)
          val withI = evalScalar(store, idxE, b, env) // idx may use tuple vars
          withI
            .withColumn(ITEM, element_at(
              expr(s"try_cast($ITEM as array<variant>)"),
              (expr("try_cast(__v as long)") + 1).cast("int")))
            .filter(col(ITEM).isNotNull)
            .drop("__v")
        case ArraySlice(base, fromE, untilE) =>
          val b = evalSeq(store, base, tuples, env)
          val f = gensym("sf")
          val s1 = evalScalar(store, fromE, b, env).withColumnRenamed("__v", f)
          val s2 = evalScalar(store, untilE, s1, env)
          s2
            .withColumn("__sl", expr(
              s"slice(try_cast($ITEM as array<variant>), " +
                s"try_cast($f as int) + 1, " +
                s"try_cast(__v as int) - try_cast($f as int))"))
            .filter(col("__sl").isNotNull)
            .withColumn(ITEM, parse_json(concat(lit("["),
              array_join(expr("transform(__sl, x -> to_json(x))"), ","),
              lit("]"))))
            .drop("__sl", "__v", f)
        case FilterPred(base, pred) =>
          val b = evalSeq(store, base, tuples, env)
          val lamEnv = shadowStatic(env, "$$")
          def ctxRefs(x: Expr): Int =
            (if (x == ContextItem) 1 else 0) +
              Jsoniq.children(x).map(ctxRefs).sum
          boolOf(pred, lamEnv + ("$$" -> LambdaItem(lit(0)))) match {
            case Some(_) if ctxRefs(pred) > 1 &&
                containsShreddedDoc(store, base, env) =>
              // multi-reference predicate over a shredded document: the
              // ITEM column is an INLINE parse_json(member_json) that
              // CollapseProject would duplicate into every reference
              // (the profile showed 5 parses/row for one comparison) —
              // bind it through a lambda variable so it parses ONCE.
              // HOFs are CodegenFallback, so this only pays when the
              // saved parses outweigh interpretation; single-reference
              // predicates take the codegen'd direct filter below.
              b.filter(exists(array(col(ITEM)), x => coalesce(
                boolOf(pred, lamEnv + ("$$" -> LambdaItem(x))).get,
                lit(false))))
            case Some(_) =>
              // pointwise predicate: ONE whole-stage-codegen filter on
              // the item column, no tuple reshaping (FilterExec drops
              // null-valued conditions itself — no coalesce needed)
              b.filter(boolOf(pred, lamEnv + ("$$" -> ItemVar(ITEM))).get)
            case None =>
              val ord0 = gensym("fo")
              val ctx = gensym("fc")
              val promoted = b
                .withColumnRenamed(ITEM, ctx)
                .withColumn(ord0, col(ORD))
                .withColumn(ORD, concat(col(ORD), col(POS)))
              val checked = evalScalar(store, pred, promoted,
                lamEnv + ("$$" -> ItemVar(ctx)))
              checked.filter(asBool(col("__v")))
                .withColumn(ORD, col(ord0))
                .withColumnRenamed(ctx, ITEM)
                .drop("__v", ord0)
          }
        case Flwor(clauses, retE) =>
          // stash the caller's order vector: the clauses grow ORD with
          // iteration suffixes, and the RESULT must surface those
          // suffixes as sequence positions relative to the ORIGINAL
          // tuples (count() etc. group on the caller's ORD)
          val ord0 = gensym("fw")
          var cur = tuples.withColumn(ord0, col(ORD))
          var curEnv = env
          // names bound by clauses of THIS FLWOR, in clause order — the
          // set `group by` regroups (outer-scope variables stay items)
          var boundHere = Vector.empty[String]
          val clauseSeq = clauses.toIndexedSeq
          var skipNext = false
          clauseSeq.zipWithIndex.foreach { case (clause, ci) =>
            if (skipNext) skipNext = false
            else clause match {
            case ForClause(v, inE, posVar) =>
              // `for` iterates ARRAY items member-wise (the corpus'
              // dialect: `for $i in jn:doc(...)` over an array document
              // binds each member — JsonIntegrationTest testSimpleQuery's
              // pinned behaviour); non-array items bind as themselves
              // index-scan hits are NODES: an array-valued hit binds as
              // itself, never member-wise (the dialect's array
              // itemization is a jn:doc-iteration rule, not a node-
              // sequence rule — a scan of key 'foo' whose value is an
              // array must yield ONE binding)
              val scanSource = inE match {
                case Call(n, _) if n.startsWith("jn:scan") => true
                case _ => false
              }
              // node-identity mode: a doc-rooted chain's items carry
              // their printed path per row (rendered from the row-wise
              // POS layout) so sdb:nodekey can resolve them
              val idSpec: Option[(String, List[PathSeg])] =
                if (needsIdentity(curEnv) && !scanSource)
                  pathSpecOf(store, inE, curEnv)
                else None
              def itemize(seqd: DataFrame): DataFrame = if (scanSource) {
                seqd.withColumn(POS, concat(col(POS), array(lit(0L))))
              } else {
                val s0 = seqd.withColumn("__arr",
                  expr(s"try_cast($ITEM as array<variant>)"))
                val pre = idSpec.map { case (_, segs) =>
                  renderPathSpec(segs) }
                val scalarPart0 = s0.filter(col("__arr").isNull)
                // a non-array item binds as ITSELF — its path is the
                // chain's own (no member suffix)
                val scalarPart = pre.foldLeft(scalarPart0)(
                    (f, p) => f.withColumn("__dpath", p))
                  .withColumn(POS, concat(col(POS), array(lit(0L))))
                  .drop("__arr")
                val keepCols = s0.columns
                  .filter(c => c != ITEM && c != "__arr" && c != POS).map(col)
                val arrayPart0 = s0.filter(col("__arr").isNotNull)
                  .select(keepCols :+ col(POS) :+
                    posexplode(col("__arr")).as(Seq("__p0", ITEM)): _*)
                val arrayPart = pre.foldLeft(arrayPart0)((f, p) =>
                    f.withColumn("__dpath", concat(p, lit("/["),
                      col("__p0").cast("string"), lit("]"))))
                  .withColumn(POS,
                    concat(col(POS), array(col("__p0").cast("long"))))
                  .drop("__p0")
                scalarPart.unionByName(arrayPart)
              }
              val decorrelated = staticCtxOf(curEnv).filter(sc =>
                Jsoniq.freeVars(inE).subsetOf(sc.env.keySet))
              // an immediately-following `where $v.f op literal` over a
              // TYPED shred fuses into the member scan: the predicate
              // runs on plain parquet columns (pushed filters, column
              // pruning) before any variant materializes. Positions
              // (`at $p`, update pointers) come from the shred's idx, so
              // they stay the ABSOLUTE member ordinal under the filter —
              // XQuery's `at` counts the binding sequence, not the
              // where-survivors.
              val fusedWhere = clauseSeq.lift(ci + 1) match {
                case Some(WhereClause(w)) =>
                  shreddedTypedFilter(store, inE, w, curEnv,
                    ctxName = Some(v))
                case _ => None
              }
              // XML element chains fuse too (name filter + typed
              // predicate on plain columns) — but ONLY without a
              // position var or update pointer: an XML member's idx is
              // its CHILD-LIST slot (text nodes count), not the binding
              // ordinal, so the idx shortcut that makes the JSON fusion
              // `at`-safe does not hold here
              val fusedXmlWhere =
                if (fusedWhere.isDefined || posVar.isDefined ||
                    JsoniqUpdate.staticTargetIn(inE, curEnv).isDefined) None
                else clauseSeq.lift(ci + 1) match {
                  case Some(WhereClause(w)) =>
                    shreddedXmlTypedFilter(store, inE, w, curEnv,
                      ctxName = Some(v))
                  case _ => None
                }
              // shredBound: the idx-derived ordinal shortcut is sound
              // (member rows == binding sequence — root/field-chain
              // arrays and the fused where). A trailing element-name
              // filter (XML person steps) serves from the shred but
              // must window-rank ordinals.
              // identity mode disables the FLAT sequence fast path for
              // this binding only — pathSpec rendering needs the
              // row-wise POS layout
              def seqOf(frame: DataFrame,
                        env2: Map[String, Binding]): DataFrame =
                if (idSpec.isDefined) evalSeqRows(store, inE, frame, env2)
                else evalSeq(store, inE, frame, env2)
              /** Shred-served members ride POS = [0, idx]: render the
                * chain's static path + the member index. A doc-source
                * chain without an explicit trailing `[]` still binds
                * member-wise (the itemize rule), so the member slot
                * applies either way. */
              def shredDpath(frame: DataFrame): DataFrame =
                idSpec.fold(frame) { case (_, segs) =>
                  val body = segs.reverse.dropWhile(_ == SegIdx).reverse
                  frame.withColumn("__dpath",
                    concat(renderPathSpec(body), lit("/["),
                      element_at(col(POS), 2).cast("string"), lit("]")))
                }
              var shredBound = false
              var s = fusedWhere.orElse(fusedXmlWhere) match {
                case Some(members) =>
                  skipNext = true
                  shredBound = fusedWhere.isDefined
                  cur.crossJoin(
                    if (fusedWhere.isDefined) shredDpath(members)
                    else members)
                case None => shreddedDocMembers(store, inE, curEnv) match {
                case Some((members, pure)) =>
                  // shredded array / element list: the member table IS
                  // the itemized source, already one row per member and
                  // partitioned — attach without a broadcast hint (its
                  // size is data-bound; tuples here are the small side)
                  shredBound = pure
                  cur.crossJoin(if (pure) shredDpath(members) else members)
                case None => decorrelated match {
                case Some(sc) =>
                  // correlation-free source: itemize ONCE against the
                  // static frame, join the items into every tuple. The
                  // following where-clause prunes pairs pointwise —
                  // Catalyst's filter-into-join pushdown turns an
                  // equality there into the join condition. Document
                  // walks get the broadcast hint (one document's nodes
                  // are executor-small); table-scan sources
                  // (jn:scan-*/jn:all-times) skip it — their size is
                  // data-bound, the planner/AQE must choose.
                  val side = itemize(seqOf(sc.base,
                    sc.env + (STATIC -> sc)))
                  val baseCols = sc.base.columns.toSet
                  val sideCols = side.columns.filterNot(baseCols).map(col)
                  val proj0 = side.select(sideCols: _*)
                  // shredded-doc-derived sources (e.g. jn:doc(big)[]
                  // [?p]) are arbitrarily LARGE and already backed by
                  // materialized parquet: keep them distributed — no
                  // broadcast, no local materialization. Document walks
                  // materialize once (downstream aggregates reference
                  // the joined stream more than once and would re-run
                  // the whole pipeline per branch) and broadcast.
                  val bigSide = containsScanCall(inE) ||
                    containsShreddedDoc(store, inE, curEnv)
                  val proj =
                    if (bigSide) proj0 else proj0.localCheckpoint(false)
                  cur.crossJoin(if (bigSide) proj else broadcast(proj))
                case None => itemize(seqOf(cur, curEnv))
              } } }
              // stash capture: a binding over jn:scan-*-index /
              // jn:all-times carries per-node metadata (printed path,
              // parent path, revision, previous/next-revision content);
              // identity mode adds the rendered dynamic path
              var aux = Map.empty[String, String]
              Seq("path" -> "__spath", "ppath" -> "__sppath",
                "ipath" -> "__sipath", "rev" -> "__srev",
                "prev" -> "__sprev", "next" -> "__snext",
                "sraw" -> "__sraw",
                "dpath" -> "__dpath").foreach {
                case (k, c) =>
                  if (s.columns.contains(c)) {
                    val nc = gensym(s"s${k}_$v")
                    s = s.withColumnRenamed(c, nc)
                    aux = aux + (k -> nc)
                  }
              }
              // resource tag: which stored document's key tree resolves
              // this binding's paths (a VALUE, not a column name)
              idSpec.foreach { case (dres, _) =>
                if (aux.contains("dpath")) aux = aux + ("dres" -> dres)
              }
              if (!aux.contains("dres") && aux.contains("path") &&
                  needsIdentity(curEnv))
                resourceOfNodeSource(store, inE, curEnv).foreach(r =>
                  aux = aux + ("dres" -> r))
              val cn = gensym(s"v_$v")
              // document pointer for update targets: the source is a
              // static path, so each bound member IS the (array, pos-1)
              // slot of the stored document
              val docPtr = JsoniqUpdate.staticTargetIn(inE, curEnv)
              // 1-based position within this iteration (at $pos, and the
              // pointer's index component)
              val posCol =
                if (posVar.isDefined || docPtr.isDefined) {
                  val pc = gensym(s"p_$v")
                  // shred-served bindings read the ordinal from the
                  // member index (POS = [0, idx]) — no window, and the
                  // ordinal stays absolute under a fused where-filter
                  s = if (shredBound)
                    s.withColumn(pc, element_at(col(POS), 2) + lit(1L))
                  else s.withColumn(pc, row_number().over(
                    org.apache.spark.sql.expressions.Window
                      .partitionBy(col(ORD)).orderBy(col(POS))).cast("long"))
                  Some(pc)
                } else None
              cur = s.withColumn(ORD, concat(col(ORD), col(POS)))
                .withColumnRenamed(ITEM, cn)
                .drop(POS)
              curEnv = shadowStatic(curEnv, v +: posVar.toSeq: _*) +
                (v -> ItemVar(cn,
                  docPtr.flatMap(t => posCol.map(pc =>
                    (t.collection, t.doc, t.steps, pc))), aux))
              posVar.foreach { pv =>
                val pvc = gensym(s"v_$pv")
                cur = cur.withColumn(pvc, jsonNumber(col(posCol.get)))
                curEnv = curEnv + (pv -> ItemVar(pvc))
              }
              boundHere = (boundHere :+ v) ++ posVar
              // a data-bound source joined into the stream makes every
              // DOWNSTREAM tuple stream non-driver-bounded
              if (containsScanCall(inE) ||
                  containsShreddedDoc(store, inE, curEnv))
                curEnv = curEnv + (BIG -> BigMark)
            case LetClause(v, valueE0) =>
              val (valueE, cur1, env1) = hoistStatic(store, valueE0, cur, curEnv)
              cur = cur1
              curEnv = env1
              val cn = gensym(s"s_$v")
              // HOFs evaluate INTERPRETED (CodegenFallback): the in-row
              // binding wins for cheap per-item work (q08-style key
              // filters/counts) but loses badly when each item builds an
              // element constructor (q10's 15-field <personne> per
              // person per category ran minutes interpreted) — those
              // take the row machinery's codegen'd concat/aggregate path
              val ctorHeavy =
                Jsoniq.exprAny(valueE)(_.isInstanceOf[Jsoniq.ElemCtor])
              pointwiseSeq(valueE, curEnv) match {
                case Some(arr) if !ctorHeavy =>
                  // in-row sequence: bind the array column directly —
                  // no aggregate, no join (the q08-correlated-let path)
                  cur = cur.withColumn(cn, coalesce(arr, emptyVarr))
                case _ =>
                  val s = evalSeq(store, valueE, cur, curEnv)
                  // variant is not orderable: sort on (pos, json text) and
                  // re-parse — canonical text round-trips losslessly
                  val agg = s.groupBy(col(ORD).as("__jord"))
                    .agg(expr(s"transform(sort_array(collect_list(struct(" +
                      s"$POS as p, to_json($ITEM) as i))), s -> parse_json(s.i))")
                      .as(cn))
                  cur = cur.join(agg, cur(ORD) === agg("__jord"), "left")
                    .drop("__jord")
                    .withColumn(cn, coalesce(col(cn), expr("array()")))
              }
              val letTarget = JsoniqUpdate.staticTargetIn(valueE, curEnv)
              // static propagation: a let over static values binds on the
              // static frame too, so downstream `for $x in $letVar`
              // sources stay correlation-free (q09's $ca/$ei pattern)
              val newStatic = staticCtxOf(curEnv) match {
                case Some(sc)
                    if Jsoniq.freeVars(valueE).subsetOf(sc.env.keySet) &&
                      !containsShreddedDoc(store, valueE, curEnv) =>
                  val s2 = evalSeq(store, valueE, sc.base,
                    sc.env + (STATIC -> sc))
                  val scn = gensym(s"t_$v")
                  val agg2 = s2.groupBy(col(ORD).as("__jord"))
                    .agg(expr(s"transform(sort_array(collect_list(struct(" +
                      s"$POS as p, to_json($ITEM) as i))), " +
                      "s -> parse_json(s.i))").as(scn))
                  val base2 = sc.base
                    .join(agg2, sc.base(ORD) === agg2("__jord"), "left")
                    .drop("__jord")
                    .withColumn(scn, coalesce(col(scn), expr("array()")))
                    .localCheckpoint(false) // 1 row; see hoistStatic
                  Some(StaticCtx(base2, sc.env + (v -> SeqVar(scn, letTarget))))
                case Some(sc) => Some(sc.copy(env = sc.env - v)) // shadowed
                case None => None
              }
              curEnv = curEnv + (v -> SeqVar(cn, letTarget)) ++
                newStatic.map(sc2 => STATIC -> (sc2: Binding))
              // identity mode: keep the defining expression so
              // sdb:nodekey($v) can resolve the let's static pointer
              // (the PRE-hoist form — hoistStatic's rewritten vars
              // carry no document pointer)
              if (needsIdentity(curEnv))
                curEnv = curEnv + (defKey(v) -> DefExpr(valueE0))
              boundHere = boundHere :+ v
            case WhereClause(w0) =>
              val (w, cur1, env1) = hoistStatic(store, w0, cur, curEnv)
              cur = evalScalar(store, w, cur1, env1)
                .filter(asBool(col("__v"))).drop("__v")
              curEnv = env1
            case OrderClause(orderKeys) =>
              var keyed = cur
              val keyCols = Seq.newBuilder[String]
              val sortCols = orderKeys.zipWithIndex.flatMap { case (ok, i) =>
                val kn = gensym(s"ok$i")
                keyCols += kn
                keyed = evalScalar(store, ok.key, keyed, curEnv)
                  .withColumnRenamed("__v", kn)
                // numeric ordering ONLY for numeric-typed keys: xs:string
                // keys compare lexicographically ("10" < "2" — the
                // reference's order-by over string numbers), so a
                // lexical string→double cast must not hijack the sort
                val sch = schema_of_variant(col(kn))
                val isNum = sch.isin((IntSchemas :+ "DOUBLE" :+ "FLOAT"): _*) ||
                  sch.startsWith("DECIMAL")
                val nCol = when(isNum, expr(s"try_cast($kn as double)"))
                // single-text XmlItem elements sort by their text (XMark
                // q19 orders by zero-or-one($b/location) — the element)
                val sCol = coalesce(col(kn).try_cast("string"),
                  variant_get(col(kn), "$['~c'][0]", "variant")
                    .try_cast("string"))
                def dir(c: Column): Column =
                  (ok.descending, ok.emptyLeast) match {
                    case (false, false) => c.asc_nulls_last // empty greatest
                    case (false, true) => c.asc_nulls_first
                    case (true, false) => c.desc_nulls_first
                    case (true, true) => c.desc_nulls_last
                  }
                Seq(dir(nCol), dir(sCol))
              }
              // re-number WITHIN each original tuple so ORD stays a
              // prefix-extension of ord0 (the suffix-recovery below)
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col(ord0))
                .orderBy(sortCols :+ col(ORD).asc: _*)
              keyed = keyed.withColumn(ORD,
                concat(col(ord0), array(row_number().over(w).cast("long"))))
              // exact names, not a prefix sweep — a nested FLWOR's
              // order-by inside a key expression must not lose THIS
              // level's keys
              cur = keyed.drop(keyCols.result(): _*)
            case GroupClause(keys0) =>
              // XQuery 3.0 group-by over the tuple stream: ONE hash
              // aggregate keyed on (caller tuple, canonical key string).
              // Key equality is VALUE equality — 18, 18.0e0 and 18.00
              // land in one group (the reference's mix/fracmix pins,
              // TypedGroupByDifferentialTest.java:141-160) — so each key
              // canonicalises to a type-tagged string: numerics through
              // one decimal rendering, null ('N') and absent ('E') as
              // distinct buckets (presentButNullGroupKey). The bound
              // variable keeps the FIRST value of its group in tuple
              // order; every other variable bound in this FLWOR becomes
              // the concatenated sequence over the group's tuples.
              val keys = keys0.distinct
              var keyed = cur
              val keyInfo = keys.map { k =>
                val item: Column = curEnv.get(k) match {
                  case Some(ItemVar(cn, _, _)) => col(cn)
                  // empty sequence = absent bucket, not an index error;
                  // a MULTI-item key is an XQuery type error (XPTY0004)
                  // — fail loudly, never group by the head silently
                  case Some(SeqVar(cn, _)) =>
                    when(size(col(cn)) > 1, expr(
                      s"raise_error('group by $$$k: grouping key is a " +
                        "sequence of more than one item [XPTY0004]')"))
                      .otherwise(try_element_at(col(cn), lit(1)))
                  case _ => throw new IllegalArgumentException(
                    s"group by $$$k: variable not bound")
                }
                val kn = gensym("gk")
                keyed = keyed.withColumn(kn, item)
                (k, kn)
              }
              val gstr = keyInfo.map { case (_, kn) =>
                val gn = gensym("gs")
                keyed = keyed.withColumn(gn, expr(
                  s"case when $kn is null then 'E' " +
                    s"when schema_of_variant($kn) = 'VOID' then 'N' " +
                    s"when schema_of_variant($kn) = 'BOOLEAN' then " +
                    s"concat('B:', cast(try_cast($kn as boolean) as string)) " +
                    s"when schema_of_variant($kn) = 'STRING' then " +
                    s"concat('S:', try_cast($kn as string)) " +
                    // numeric canon: BOTH the double image and an exact
                    // decimal(38,6) rendering. The pair discriminates
                    // what either alone cannot — the double separates
                    // fine fractions (a fixed decimal scale would round
                    // 1e-13 and 2e-13 together), the decimal separates
                    // >2^53 integers the double collapses (every BIGINT
                    // fits its 32 integer digits exactly) — while equal
                    // VALUES across int/double/decimal provenance still
                    // canonicalise identically.
                    // (+ 0.0 folds IEEE -0.0 into +0.0 — the zero
                    // family is ONE group)
                    s"when try_cast($kn as double) is not null then " +
                    s"concat('D:', cast(try_cast($kn as double) + 0.0d " +
                    s"as string), " +
                    s"'|', coalesce(cast(try_cast($kn as decimal(38,6)) " +
                    s"as string), '')) " +
                    // objects/arrays cannot atomize to a grouping key —
                    // the same loud XPTY0004 as a multi-item key, never a
                    // silent group-by-JSON-text (value-equal objects with
                    // different key order would split groups)
                    s"when startswith(schema_of_variant($kn), 'OBJECT') " +
                    s"or startswith(schema_of_variant($kn), 'ARRAY') then " +
                    s"raise_error(concat('group by: grouping key is a ', " +
                    s"case when startswith(schema_of_variant($kn), " +
                    s"'OBJECT') then 'object' else 'array' end, " +
                    s"' — non-atomizable [XPTY0004]')) " +
                    s"else concat('J:', to_json($kn)) end"))
                gn
              }
              val ordG = gensym("go")
              val groupVarSet = keys.toSet
              val bound = boundHere.distinct
              val aggExprs = Seq.newBuilder[Column]
              aggExprs += expr(s"min($ORD)").as(ordG)
              val repCols = keyInfo.map { case (k, kn) =>
                val rn = gensym("gr")
                aggExprs += expr(s"parse_json(min_by(to_json($kn), $ORD))")
                  .as(rn)
                k -> rn
              }
              val seqCols = bound.filterNot(groupVarSet).flatMap { b =>
                curEnv.get(b).collect {
                  case ItemVar(cn, _, _) =>
                    // variant is not orderable: collect (ord, json text),
                    // sort, re-parse (the let-aggregate discipline); null
                    // items = empty sequences contribute nothing
                    val sn = gensym("gq")
                    aggExprs += expr(
                      s"transform(sort_array(collect_list(" +
                        s"case when $cn is not null then " +
                        s"struct($ORD as p, to_json($cn) as i) end)), " +
                        "s -> parse_json(s.i))").as(sn)
                    (b, sn)
                  case SeqVar(cn, _) =>
                    val sn = gensym("gq")
                    aggExprs += expr(
                      s"flatten(transform(sort_array(collect_list(" +
                        s"struct($ORD as p, to_json($cn) as i))), " +
                        "s -> coalesce(try_cast(parse_json(s.i) " +
                        "as array<variant>), array())))").as(sn)
                    (b, sn)
                }
              }
              // every remaining column (caller frame, aux/pos stashes) is
              // constant per caller tuple — carry one value through
              val handled: Set[String] = Set(ORD, ord0) ++ gstr ++
                keyInfo.map(_._2) ++
                bound.flatMap(b => curEnv.get(b).collect {
                  case ItemVar(cn, _, _) => cn
                  case SeqVar(cn, _) => cn
                })
              keyed.schema.fields.filterNot(f => handled(f.name)).foreach {
                f =>
                  if (f.dataType.typeName == "variant")
                    aggExprs += expr(
                      s"parse_json(min_by(to_json(`${f.name}`), $ORD))")
                      .as(f.name)
                  else aggExprs += first(col(f.name)).as(f.name)
              }
              val aggList = aggExprs.result()
              val grouped = keyed
                .groupBy((col(ord0) +: gstr.map(col)): _*)
                .agg(aggList.head, aggList.tail: _*)
              // groups surface in first-appearance order; dense 0-based
              // re-numbering keeps ORD a prefix-extension of ord0
              val gw = org.apache.spark.sql.expressions.Window
                .partitionBy(col(ord0)).orderBy(col(ordG))
              cur = grouped
                .withColumn(ORD, concat(col(ord0),
                  array((row_number().over(gw) - 1).cast("long"))))
                .drop(ordG +: gstr: _*)
              // regrouped names leave the static scope (their pre-group
              // static copies would serve ungrouped values)
              curEnv = shadowStatic(curEnv, (bound ++ keys): _*)
              repCols.foreach { case (k, rn) =>
                curEnv = curEnv + (k -> ItemVar(rn))
              }
              seqCols.foreach { case (b, sn) =>
                curEnv = curEnv + (b -> SeqVar(sn))
              }
            case CountClause(cv) =>
              val cn = gensym(s"v_$cv")
              cur = cur.withColumn(cn, jsonNumber(row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy(col(ord0)).orderBy(col(ORD)))))
              curEnv = shadowStatic(curEnv, cv) + (cv -> ItemVar(cn))
              boundHere = boundHere :+ cv
          } }
          val ret = evalSeq(store, retE, cur, curEnv)
          // iteration suffix (ORD beyond the caller's prefix) becomes the
          // leading sequence position; the caller's ORD is restored
          val restored = ret
            .withColumn(POS, concat(
              expr(s"slice($ORD, size($ord0) + 1, size($ORD) - size($ord0))"),
              col(POS)))
            .withColumn(ORD, col(ord0))
          // project away this FLWOR's bindings so unions stay aligned
          val keep = tuples.columns.toSet + POS + ITEM
          restored.select(restored.columns.filter(keep).map(col): _*)
        case If(condE, thenE, elseE) =>
          val c = evalScalar(store, condE, tuples, env)
          val branchShape = (c.columns.filter(_ != "__v") :+ POS :+ ITEM).map(col)
          val t = evalSeq(store, thenE,
            c.filter(asBool(col("__v"))).drop("__v"), env).select(branchShape: _*)
          val f = evalSeq(store, elseE,
            c.filter(!coalesce(asBool(col("__v")), lit(false))).drop("__v"), env)
            .select(branchShape: _*)
          t.unionByName(f)
        case u: UpdateStmt =>
          // applied eagerly at compile (one committed revision per
          // statement that mutates anything — the reference's
          // auto-commit), empty result sequence. One pointer per
          // surviving binding tuple, deduped (XQUF pending-list): a
          // where-false FLWOR applies NOTHING.
          applyUpdate(store, u, tuples, env)
          tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, vnull)
            .filter(lit(false))
        case Call(name, args) if SeqFunctions(name) =>
          evalCallSeq(store, name, args, tuples, env)
        case ObjectCtor(_) | ArrayCtor(_) | Binary(_, _, _) | Unary(_, _) |
            InstanceOf(_, _) | NumLit(_) | StrLit(_) | BoolLit(_) | NullLit |
            ContextItem | Call(_, _) | ElemCtor(_, _, _) | Quantified(_, _) =>
          val s = evalScalar(store, e, tuples, env)
          s.withColumn(POS, array(lit(0L)))
            .withColumnRenamed("__v", ITEM)
            .filter(col(ITEM).isNotNull)
        case DerefVar(_, _) =>
          throw new UnsupportedOperationException(
            "dynamic deref (.$var) is outside the compiled subset")
    }
  }

  // ---- shared scalar combinators (variant Columns in, variant out) ----
  private val IntSchemas = Seq("BIGINT", "INT", "SMALLINT", "TINYINT")

  /** Value comparison as a NATIVE nullable boolean (null = empty
    * operand): numeric when both operands cast to double, else string.
    * The boolean-direct predicate chain ([[boolOf]]) stays in primitive
    * types end-to-end — no parse_json("true")/try_cast round-trip per
    * row. */
  private def cmpBool(op: String, l: Column, r: Column): Column = {
    val ld = l.try_cast("double")
    val rd = r.try_cast("double")
    val ls = l.try_cast("string")
    val rs = r.try_cast("string")
    def cmp(a: Column, b: Column): Column = op match {
      case "eq" => a === b; case "ne" => a =!= b
      case "lt" => a < b; case "le" => a <= b
      case "gt" => a > b; case "ge" => a >= b
    }
    when(l.isNull || r.isNull, lit(null).cast("boolean"))
      .when(ld.isNotNull && rd.isNotNull, cmp(ld, rd))
      .otherwise(cmp(ls, rs))
  }

  /** Does either comparison operand read as a numeric literal? Then the
    * comparison pins NUMERIC (XQuery number semantics: non-castable
    * values yield empty -> false) — one cast per row instead of the
    * dual numeric/string branch, and IDENTICAL semantics across every
    * compiler (pointwise, boolean-direct, row, typed-shred). */
  private def numericLitOperand(l: Jsoniq.Expr, r: Jsoniq.Expr): Boolean =
    Seq(l, r).exists {
      case _: Jsoniq.NumLit => true
      case Jsoniq.Unary("-", _: Jsoniq.NumLit) => true
      case _ => false
    }

  /** Value comparison with the numeric-literal pinning applied from the
    * AST operands; native nullable boolean. */
  private def cmpBoolAst(op: String, l: Jsoniq.Expr, r: Jsoniq.Expr,
                         lc: Column, rc: Column): Column =
    if (numericLitOperand(l, r)) {
      val (ld, rd) = (lc.try_cast("double"), rc.try_cast("double"))
      op match {
        case "eq" => ld === rd; case "ne" => ld =!= rd
        case "lt" => ld < rd; case "le" => ld <= rd
        case "gt" => ld > rd; case "ge" => ld >= rd
      }
    } else cmpBool(op, lc, rc)

  /** [[cmpBoolAst]] as a variant item (null = empty, the scalar rule). */
  private def cmpColAst(op: String, l: Jsoniq.Expr, r: Jsoniq.Expr,
                        lc: Column, rc: Column): Column = {
    val b = cmpBoolAst(op, l, r, lc, rc)
    parse_json(when(b.isNull, lit(null))
      .when(b, lit("true")).otherwise(lit("false")))
  }

  /** Compile a PREDICATE to a native nullable-boolean Column — the
    * filter/where/quantifier consumers coalesce null to false
    * themselves. Falls back to the variant form + EBV cast where no
    * boolean-direct shape exists. */
  private def boolOf(e: Jsoniq.Expr,
                     env: Map[String, Binding]): Option[Column] = {
    import Jsoniq._
    e match {
      case Binary("and", l, r) =>
        for (a <- boolOf(l, env); b <- boolOf(r, env))
          yield coalesce(a, lit(false)) && coalesce(b, lit(false))
      case Binary("or", l, r) =>
        for (a <- boolOf(l, env); b <- boolOf(r, env))
          yield coalesce(a, lit(false)) || coalesce(b, lit(false))
      case Binary(op, l, r)
          if Set("eq", "ne", "lt", "le", "gt", "ge")(op) =>
        for (lc <- scalarOf(l, env); rc <- scalarOf(r, env))
          yield cmpBoolAst(op, l, r, lc, rc)
      case Binary(op, l, r) if op.startsWith("g_") && op != "g_" =>
        // general (existential) comparison: any pair satisfies; empty
        // operands -> false. Attr/text path operands take the fused
        // native walk (array<string> in one expression node) — the
        // XMark where-clause shape `$t/a/b/@attr = $x`.
        val emptyStrs = expr("cast(array() as array<string>)")
        def side(e2: Expr): Option[Column] =
          seqStringsFast(e2, env).map(coalesce(_, emptyStrs))
            .orElse(pointwiseSeq(e2, env).map(coalesce(_, emptyVarr)))
        for (ls <- side(l); rs <- side(r)) yield
          coalesce(
            exists(ls, x => coalesce(
              exists(rs, y => coalesce(
                cmpBoolAst(op.stripPrefix("g_"), l, r, x, y), lit(false))),
              lit(false))),
            lit(false))
      case Call("not", Seq(a)) =>
        boolOf(a, env).map(c => !coalesce(c, lit(false)))
      case Call("exists", Seq(a)) =>
        pointwiseSeq(a, env).map(s => size(coalesce(s, emptyVarr)) > 0)
      case Call("empty", Seq(a)) =>
        pointwiseSeq(a, env).map(s => size(coalesce(s, emptyVarr)) === 0)
      case Quantified(bindings, pred) =>
        def qgo(bs: List[(String, Expr)],
                env2: Map[String, Binding]): Option[Column] = bs match {
          case Nil =>
            boolOf(pred, env2).map(p => coalesce(p, lit(false)))
          case (v, src) :: rest =>
            pointwiseSeq(src, env2).flatMap { arr =>
              // probe with a dummy binding, then build for real
              qgo(rest, env2 + (v -> LambdaItem(lit(0)))).map { _ =>
                coalesce(exists(coalesce(arr, emptyVarr),
                  x => qgo(rest, env2 + (v -> LambdaItem(x))).get),
                  lit(false))
              }
            }
        }
        qgo(bindings.toList, env)
      case If(c, t, el) =>
        for (cc <- boolOf(c, env); ts <- boolOf(t, env);
             es <- boolOf(el, env))
          yield when(coalesce(cc, lit(false)), ts).otherwise(es)
      case _ => scalarOf(e, env).map(asBool)
    }
  }

  /** Atomize an XML element item (XmlItem encoding) to its single text
    * child for arithmetic — `2.20371 * $i/reserve` (XMark q18) computes
    * on the element's typed value, the XQuery atomization rule. Non-
    * element items pass through (plain JSON objects have no `~c`). */
  private def atomizeCol(c: Column): Column =
    when(schema_of_variant(c).startsWith("OBJECT"),
      coalesce(variant_get(c, "$['~c'][0]", "variant"), c))
      .otherwise(c)

  private def arithCol(op: String, l0: Column, r0: Column): Column = {
    val l = atomizeCol(l0)
    val r = atomizeCol(r0)
    val bothInt = schema_of_variant(l).isin(IntSchemas: _*) &&
      schema_of_variant(r).isin(IntSchemas: _*)
    def arith(a: Column, b: Column): Column = op match {
      case "+" => a + b; case "-" => a - b; case "*" => a * b
      case "div" => a / b; case "idiv" => (a / b).cast("long")
      case "mod" => a % b
      case other => throw new IllegalArgumentException(s"op $other")
    }
    val intResult = Set("+", "-", "*", "idiv", "mod")(op)
    // xs:decimal discipline: unless an operand is an actual DOUBLE
    // (exponent literal), compute in decimal — `2.20371 * $reserve`
    // (XMark q18) must print the exact product, not a binary-float
    // neighbor. Trailing zeros trim to the canonical form.
    val anyDouble = schema_of_variant(l) === "DOUBLE" ||
      schema_of_variant(r) === "DOUBLE"
    // Spark's decimal cast ROUNDS on scale overflow instead of nulling:
    // a DECIMAL(p,s) operand with s > 6 would silently lose digits in
    // the working decimal(18,6) (1 + 0.0000001 computing 1) — detect it
    // from the variant schema and route to the double branch, the same
    // graceful fallback precision overflow already takes.
    def scaleOver(c: Column): Column = coalesce(
      regexp_extract(schema_of_variant(c), "^DECIMAL\\(\\d+,(\\d+)\\)", 1)
        .try_cast("int") > 6, lit(false))
    val lossyScale = scaleOver(l) || scaleOver(r)
    val decResult =
      arith(l.try_cast("decimal(18,6)"), r.try_cast("decimal(18,6)"))
    when(l.isNull || r.isNull, lit(null))
      .when(bothInt && lit(intResult),
        jsonNumber(arith(l.try_cast("long"), r.try_cast("long"))))
      .when(!anyDouble && !lossyScale && decResult.isNotNull,
        jsonDecimal(decResult))
      .otherwise(jsonNumber(arith(l.try_cast("double"), r.try_cast("double"))))
  }

  /** A decimal as a variant number with trailing zeros (and a bare
    * trailing '.') trimmed — the XQuery canonical decimal lexical form. */
  private def jsonDecimal(c: Column): Column = {
    val s0 = c.cast("string")
    parse_json(when(s0.contains("."),
      regexp_replace(regexp_replace(s0, "0+$", ""), "\\.$", ""))
      .otherwise(s0))
  }

  private def boolCol(op: String, l: Column, r: Column): Column = {
    val b =
      if (op == "or") coalesce(asBool(l), lit(false)) || coalesce(asBool(r), lit(false))
      else coalesce(asBool(l), lit(false)) && coalesce(asBool(r), lit(false))
    jsonBool(b)
  }

  private def negCol(c: Column): Column =
    when(schema_of_variant(c) === "BIGINT", jsonNumber(-c.try_cast("long")))
      .otherwise(jsonNumber(-c.try_cast("double")))

  private def instanceCol(c: Column, typeName: String): Column = {
    val schema = schema_of_variant(c)
    val b = typeName match {
      case "object" => schema.startsWith("OBJECT") || schema.startsWith("STRUCT")
      case "array" => schema.startsWith("ARRAY")
      case "string" => schema === "STRING"
      case other =>
        throw new UnsupportedOperationException(s"instance of $other()")
    }
    when(c.isNull, lit(null)).otherwise(jsonBool(b))
  }

  /** Column for expressions computable per tuple without reshaping —
    * the no-join fast path `where` clauses, `[?pred]` filters, and
    * scalar positions all route through. Deref/index/attr chains over a
    * pointwise base compile to `variant_get`/`element_at` (SQL null =
    * empty sequence, exactly the scalar contract); comparisons,
    * arithmetic, and/or/not compose in place. */
  private def pointwise(e: Jsoniq.Expr,
                        env: Map[String, Binding]): Option[Column] = {
    import Jsoniq._
    e match {
      case NumLit(t) => Some(parse_json(lit(t)))
      case StrLit(s) => Some(jsonString(lit(s)))
      case BoolLit(b) => Some(parse_json(lit(if (b) "true" else "false")))
      case NullLit => Some(vnull)
      case ContextItem => env.get("$$") match {
        case Some(ItemVar(cn, _, _)) => Some(col(cn))
        case Some(LambdaItem(c)) => Some(c)
        case Some(_) => None
        case None =>
          throw new IllegalArgumentException("$$ outside a predicate")
      }
      case VarRef(n) => env.get(n) match {
        case Some(ItemVar(cn, _, _)) => Some(col(cn))
        case Some(LambdaItem(c)) => Some(c)
        case _ => None
      }
      case Deref(b, f) =>
        pointwise(b, env).map(c => variant_get(c, fieldPath(f), "variant"))
      case ArrayIndex(b, NumLit(t)) if !t.contains(".") =>
        pointwise(b, env).map(c =>
          element_at(c.try_cast("array<variant>"), t.toInt + 1))
      case ArrayIndex(b, Unary("-", NumLit(t))) if !t.contains(".") =>
        // negative index counts from the END (tada[-1] = last member —
        // element_at's own negative-index semantics)
        pointwise(b, env).map(c =>
          element_at(c.try_cast("array<variant>"), -t.toInt))
      case AttrStep(b, n) =>
        pointwise(b, env).map(c =>
          variant_get(c, s"$$['~a']['${n.replace("'", "\\'")}']", "variant"))
      case Binary("<<", _, _) => None // node order — aux-column route only
      case Binary(op, _, _) if op.startsWith("g_") =>
        // general (existential) comparison: true iff ANY (left, right)
        // pair satisfies the value comparison, false on empty operands.
        // Both sides as in-row arrays -> nested exists, pure codegen —
        // no per-pair row expansion, no join (boolOf builds it)
        boolOf(e, env).map(jsonBool)
      case Binary(op, _, _)
          if Set("eq", "ne", "lt", "le", "gt", "ge")(op) =>
        // route through boolOf so the numeric-literal pinning applies
        // IDENTICALLY here and in filter contexts (empty stays empty)
        boolOf(e, env).map(b => parse_json(
          when(b.isNull, lit(null))
            .when(b, lit("true")).otherwise(lit("false"))))
      case Binary(op, l, r) =>
        // arithCol/boolCol reference each operand MANY times (schema
        // probes, decimal/double arms) — a HEAVY operand (a nested
        // FLWOR/if, i.e. an inlined recursive call) must bind through a
        // lambda variable first, or the column tree goes exponential in
        // the recursion depth (8 copies x 16 levels OOM'd normalize).
        // Leaf operands keep the direct form — zero cost on hot paths.
        def heavy(x: Expr): Boolean = Jsoniq.exprAny(x) {
          case _: Flwor | _: If => true
          case _ => false
        }
        def bindOnce(c: Column, wrap: Boolean)(f: Column => Column): Column =
          if (!wrap) f(c)
          else element_at(transform(array(c), y => f(y)), 1)
        for (lc <- scalarOf(l, env); rc <- scalarOf(r, env)) yield
          bindOnce(lc, heavy(l)) { lb =>
            bindOnce(rc, heavy(r)) { rb =>
              op match {
                case "or" | "and" => boolCol(op, lb, rb)
                case _ => arithCol(op, lb, rb)
              }
            }
          }
      case Unary("-", x) => scalarOf(x, env).map(negCol)
      case InstanceOf(x, t) => scalarOf(x, env).map(instanceCol(_, t))
      case Quantified(_, _) =>
        // existential quantifier over in-row sequences: nested exists
        // (boolOf). Predicates needing the position stash (`<<`) fail
        // the probe and take the row machinery.
        boolOf(e, env).map(jsonBool)
      case ObjectCtor(entries) =>
        val parts = entries.map {
          case Right((k, ve)) => scalarOf(ve, env).map { v =>
            val keyJson = lit("\"" + k.replace("\\", "\\\\")
              .replace("\"", "\\\"") + "\":")
            concat(keyJson, to_json(coalesce(v, vnull)))
          }
          case Left(splat) => scalarOf(splat, env).map { v =>
            val j = to_json(v)
            when(v.isNull || j === "{}", lit(""))
              .otherwise(j.substr(lit(2), length(j) - 2))
          }
        }
        if (parts.forall(_.isDefined)) {
          val body = array_join(
            filter(array(parts.map(_.get): _*), p => p =!= lit("")), ",")
          Some(parse_json(concat(lit("{"), body, lit("}"))))
        } else None
      case ArrayCtor(items) =>
        // sequence-valued members FLATTEN (the evalScalar row rule)
        val parts = items.map(it => pointwiseSeq(it, env).map(sq =>
          transform(coalesce(sq, emptyVarr), x => to_json(x))))
        if (parts.forall(_.isDefined)) {
          val body = if (parts.isEmpty) lit("")
            else array_join(flatten(array(parts.map(_.get): _*)), ",")
          Some(parse_json(concat(lit("["), body, lit("]"))))
        } else None
      case ElemCtor(name, attrs, content) =>
        def partCol(parts: Seq[Either[String, Expr]]): Option[Column] = {
          val cs = parts.map {
            case Left(str) => Some(lit(str))
            case Right(e2) =>
              textFast(e2, env).orElse(pointwiseSeq(e2, env).map(textOfSeq))
          }
          if (cs.forall(_.isDefined))
            Some(if (cs.isEmpty) lit("") else concat(cs.map(_.get): _*))
          else None
        }
        val attrOpts = attrs.map { case (an, parts) =>
          partCol(parts).map(pc =>
            concat(lit(s""" $an=""""), pc, lit("\"")))
        }
        if (attrOpts.forall(_.isDefined))
          partCol(content).map { contentCol =>
            val attrCols = attrOpts.map(_.get)
            val head = if (attrCols.isEmpty) lit(s"<$name")
              else concat(lit(s"<$name") +: attrCols: _*)
            val xml = when(contentCol === "", concat(head, lit("/>")))
              .otherwise(concat(head, lit(">"), contentCol, lit(s"</$name>")))
            jsonString(xml)
          }
        else None
      case Call(name, args) => pointwiseCall(name, args, env)
      case _ => None
    }
  }

  // ------------------------------------ in-row sequence compiler (HOFs)
  private def emptyVarr: Column = expr("cast(array() as array<variant>)")

  private def xmlSerializeCol(x: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.XmlSerialize(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(x)))

  /** An XML element's children array (XmlItem encoding), empty for
    * non-elements/scalars. */
  private def xmlKids(x: Column): Column =
    coalesce(variant_get(x, "$['~c']", "variant").try_cast("array<variant>"),
      emptyVarr)

  private def isElemNamed(name: String)(y: Column): Column =
    schema_of_variant(y).startsWith("OBJECT") &&
      variant_get(y, "$['~n']", "variant").try_cast("string") === name

  /** XQuery content-serialization text of an in-row sequence: string
    * items raw, others canonical JSON; only ADJACENT ATOMIC items get a
    * separating space (serialized elements concatenate directly) — the
    * same rule as [[seqText]]'s row aggregation. */
  private def textOfSeq(s0: Column): Column = {
    val ts = transform(coalesce(s0, emptyVarr), x =>
      when(schema_of_variant(x) === "STRING", x.try_cast("string"))
        // a stored XML element re-serializes to XML text (q13 embeds
        // whole subtrees); XmlSerialize yields null for plain JSON
        // items, which keep their canonical JSON form
        .otherwise(coalesce(xmlSerializeCol(x), to_json(x))))
    // single-pass fold carrying (acc, prev): the input array appears
    // ONCE in the expression tree. Nested element constructors compose
    // textOfSeq trees — a second reference (the old element_at(ts, i)
    // separator probe) doubled the subtree per nesting level, blowing
    // q10's analyzer budget exponentially. `prev = ""` marks the first
    // item (serialized items are never empty: strings keep quotes).
    aggregate(ts,
      struct(lit("").as("a"), lit("").as("p")),
      (st, x) => struct(
        concat(st.getField("a"),
          when(st.getField("p") =!= "" &&
            !st.getField("p").like("<%") && !x.like("<%"), lit(" "))
            .otherwise(lit("")),
          x).as("a"),
        x.as("p")),
      st => st.getField("a"))
  }

  /** `chain/of/child/steps/(@attr | text())` rooted at a pointwise
    * scalar, as an array<string> of the matched items — the fused
    * native walk ([[graft.functions.XmlPathStrings]]) for
    * general-comparison operands. */
  private def seqStringsFast(e: Jsoniq.Expr,
                             env: Map[String, Binding]): Option[Column] = {
    import Jsoniq._
    def chain(x: Expr, acc: List[String]): Option[(Column, List[String])] =
      x match {
        case ChildStep(b2, n) => chain(b2, n :: acc)
        case root => pointwise(root, env).map(c => (c, acc))
      }
    def build(b: Expr, attr: Option[String]): Option[Column] =
      chain(b, Nil).map { case (rootCol, names) =>
        org.apache.spark.sql.graftbridge.GraftBridge.column(
          graft.functions.XmlPathStrings(
            org.apache.spark.sql.graftbridge.GraftBridge
              .expression(rootCol), names, attr))
      }
    e match {
      case AttrStep(b, n) => build(b, Some(n))
      case TextStep(b) => build(b, None)
      case _ => None
    }
  }

  /** `chain/of/child/steps/text()` rooted at a pointwise scalar: the
    * fused native walk ([[graft.functions.XmlChildTexts]]) — one
    * expression node instead of ~50 interpreted HOF nodes per step.
    * Returns the content-serialization TEXT of the path's items. */
  private def textFast(e: Jsoniq.Expr,
                       env: Map[String, Binding]): Option[Column] = {
    import Jsoniq._
    e match {
      case TextStep(b) =>
        def chain(x: Expr, acc: List[String]): Option[(Column, List[String])] =
          x match {
            case ChildStep(b2, n) => chain(b2, n :: acc)
            case root => pointwise(root, env).map(c => (c, acc))
          }
        chain(b, Nil).map { case (rootCol, names) =>
          org.apache.spark.sql.graftbridge.GraftBridge.column(
            graft.functions.XmlChildTexts(
              org.apache.spark.sql.graftbridge.GraftBridge
                .expression(rootCol), names))
        }
      case _ => None
    }
  }

  /** At-most-one-item value of `e` per tuple (first item in sequence
    * order; SQL null = empty) as a pure Column — pointwise scalars
    * directly, otherwise the first element of the in-row sequence. */
  private def scalarOf(e: Jsoniq.Expr,
                       env: Map[String, Binding]): Option[Column] =
    pointwise(e, env).orElse(
      pointwiseSeq(e, env).map(sq => get(coalesce(sq, emptyVarr), lit(0))))

  private def pointwiseCall(name: String, args: Seq[Jsoniq.Expr],
                            env: Map[String, Binding]): Option[Column] = {
    def sOf(e: Jsoniq.Expr) = pointwiseSeq(e, env)
    def nn(sq: Column) = coalesce(sq, emptyVarr)
    name match {
      case "graft:recursion-overflow" =>
        // the depth-capped inliner's sentinel: data recursed past
        // -Dgraft.recursion.depth — raise, never answer silently
        val fn = args.headOption.collect {
          case Jsoniq.StrLit(s) => s }.getOrElse("?")
        Some(parse_json(expr(
          s"raise_error('recursive function $fn exceeded the compiled " +
            "recursion depth (-Dgraft.recursion.depth) " +
            "[graft:recursion-overflow]')").cast("string")))
      case "not" if args.size == 1 =>
        boolOf(args.head, env).map(c =>
          jsonBool(!coalesce(c, lit(false))))
      case "count" if args.size == 1 =>
        sOf(args.head).map(sq => jsonNumber(size(nn(sq)).cast("long")))
      case "exists" if args.size == 1 =>
        sOf(args.head).map(sq => jsonBool(size(nn(sq)) > 0))
      case "empty" if args.size == 1 =>
        sOf(args.head).map(sq => jsonBool(size(nn(sq)) === 0))
      case "exactly-one" | "zero-or-one" | "fn:data" | "data"
          if args.size == 1 =>
        // the corpus' occurrences are genuinely single-valued; first
        // item in order = the evalScalar contract
        scalarOf(args.head, env)
      case "xs:integer" if args.size == 1 =>
        scalarOf(args.head, env).map(c => jsonNumber(c.try_cast("long")))
      case "round" | "fn:round" if args.size == 1 =>
        // fn:round: half rounds toward +INF (floor(x + 0.5)); integer
        // input passes through unchanged. Values beyond long range keep
        // the (already-integral) double — a long cast would clamp to
        // Long.Max/Min.
        scalarOf(args.head, env).map { c =>
          val a = atomizeCol(c)
          val d = a.try_cast("double")
          val r = floor(d + 0.5)
          when(schema_of_variant(a).isin(IntSchemas: _*), a)
            .when(abs(r) < lit(9.0e18), jsonNumber(r.cast("long")))
            .otherwise(jsonNumber(r))
        }
      case "jn:null" if args.isEmpty => Some(vnull)
      // the numeric folds are ONE aggregate each — a single reference to
      // the input tree (multiple references double nested subexpressions
      // per level; see textOfSeq). Int result iff EVERY item is integral
      // (the aggOver rule).
      case "sum" if args.size == 1 =>
        sOf(args.head).map { s0 =>
          aggregate(nn(s0),
            struct(lit(true).as("i"), lit(0L).as("s"),
              lit(0.0).as("d"), lit(0).as("n")),
            (st, x) => struct(
              (st.getField("i") &&
                (schema_of_variant(x) === "BIGINT")).as("i"),
              (st.getField("s") +
                coalesce(x.try_cast("long"), lit(0L))).as("s"),
              (st.getField("d") +
                coalesce(x.try_cast("double"), lit(0.0))).as("d"),
              (st.getField("n") + lit(1)).as("n")),
            st => when(st.getField("n") === 0, jsonNumber(lit(0L)))
              .when(st.getField("i"), jsonNumber(st.getField("s")))
              .otherwise(jsonNumber(st.getField("d"))))
        }
      case "min" | "max" if args.size == 1 =>
        sOf(args.head).map { s0 =>
          aggregate(nn(s0),
            struct(lit(true).as("i"), lit(null).cast("double").as("m")),
            (st, x) => {
              val xd = x.try_cast("double")
              val m0 = st.getField("m")
              struct(
                (st.getField("i") &&
                  (schema_of_variant(x) === "BIGINT")).as("i"),
                when(xd.isNull, m0).when(m0.isNull, xd)
                  .otherwise(if (name == "min") least(m0, xd)
                    else greatest(m0, xd)).as("m"))
            },
            st => when(st.getField("m").isNull, lit(null))
              .when(st.getField("i"),
                jsonNumber(st.getField("m").cast("long")))
              .otherwise(jsonNumber(st.getField("m"))))
        }
      case "avg" if args.size == 1 =>
        sOf(args.head).map { s0 =>
          aggregate(nn(s0),
            struct(lit(0.0).as("d"), lit(0).as("c")),
            (st, x) => {
              val xd = x.try_cast("double")
              struct((st.getField("d") + coalesce(xd, lit(0.0))).as("d"),
                (st.getField("c") +
                  when(xd.isNotNull, lit(1)).otherwise(lit(0))).as("c"))
            },
            st => when(st.getField("c") === 0, lit(null))
              .otherwise(jsonNumber(st.getField("d") / st.getField("c"))))
        }
      case "contains" if args.size == 2 =>
        for (a <- scalarOf(args.head, env); b <- scalarOf(args(1), env))
          yield jsonBool(a.try_cast("string").contains(b.try_cast("string")))
      case "starts-with" if args.size == 2 =>
        for (a <- scalarOf(args.head, env); b <- scalarOf(args(1), env))
          yield jsonBool(a.try_cast("string")
            .startsWith(b.try_cast("string")))
      case _ => None
    }
  }

  /** Compile `e` to ONE per-tuple `array<variant>` holding its whole
    * result sequence in document order — navigation steps become
    * `transform`/`filter`/`flatten` higher-order functions, inner FLWORs
    * become lambda pipelines, and general comparisons over these become
    * nested `exists`. This is the decorrelation fast path: where the row
    * machinery re-derives the tuple stream per operand (and joins it
    * back on the order vector), this emits a single whole-stage-codegen
    * Column — the q08-style correlated XMark shapes drop from hundreds
    * of exchanges to a handful. Returns None where hierarchical __pos
    * levels or driver-side walks are required (descendant axes, order
    * by, scans, updates) — the row machinery remains the general path. */
  private def pointwiseSeq(e: Jsoniq.Expr,
                           env: Map[String, Binding]): Option[Column] = {
    import Jsoniq._
    // expressions over SHREDDED documents (directly or through a
    // let-bound handle) must not compile in-row: the member table is
    // arbitrarily large — that's why it was shredded — and an in-row
    // array would funnel it through one task. Declining here routes
    // them to the row machinery's member-table serving.
    env.get(STOREK) match {
      case Some(StoreRef(st)) if containsShreddedDoc(st, e, env) =>
        return None
      case _ => ()
    }
    def fl(bs: Column, f: Column => Column): Column =
      flatten(transform(bs, f))
    def one(c: Column): Column = filter(array(c), y => y.isNotNull)
    e match {
      case VarRef(n) => env.get(n) match {
        case Some(SeqVar(cn, _)) => Some(col(cn))
        case Some(ItemVar(cn, _, _)) => Some(array(col(cn)))
        case Some(LambdaSeq(c)) => Some(c)
        case Some(LambdaItem(c)) => Some(array(c))
        case _ => None
      }
      case ContextItem => env.get("$$") match {
        case Some(ItemVar(cn, _, _)) => Some(array(col(cn)))
        case Some(LambdaItem(c)) => Some(array(c))
        case _ => None
      }
      case SeqCtor(xs) =>
        val parts = xs.map(pointwiseSeq(_, env))
        if (parts.forall(_.isDefined))
          Some(if (parts.isEmpty) emptyVarr
            else concat(parts.map(p => coalesce(p.get, emptyVarr)): _*))
        else None
      case Deref(b, f) =>
        pointwiseSeq(b, env).map(bs =>
          fl(bs, x => one(variant_get(x, fieldPath(f), "variant"))))
      case AttrStep(b, n) =>
        pointwiseSeq(b, env).map(bs => fl(bs, x => one(
          variant_get(x, s"$$['~a']['${n.replace("'", "\\'")}']", "variant"))))
      case ChildStep(b, n) =>
        pointwiseSeq(b, env).map(bs =>
          fl(bs, x => filter(xmlKids(x), isElemNamed(n)(_))))
      case TextStep(b) =>
        pointwiseSeq(b, env).map(bs => fl(bs, x =>
          filter(xmlKids(x), y => schema_of_variant(y) === "STRING")))
      case Unbox(b) =>
        pointwiseSeq(b, env).map(bs => fl(bs, x =>
          coalesce(x.try_cast("array<variant>"), emptyVarr)))
      // XPath positional predicate on a child step: 1-based rank among
      // the matched siblings of the SAME parent — per-parent here by
      // construction (one lambda frame per parent item)
      case ArrayIndex(ChildStep(b2, n), idxE)
          if idxE.isInstanceOf[NumLit] || idxE == Call("last", Nil) =>
        pointwiseSeq(b2, env).flatMap { bs =>
          idxE match {
            case NumLit(t) if !t.contains(".") => Some(fl(bs, x => {
              val matched = filter(xmlKids(x), isElemNamed(n)(_))
              one(when(size(matched) >= t.toInt && lit(t.toInt) >= 1,
                element_at(matched, t.toInt)))
            }))
            case Call("last", Seq()) => Some(fl(bs, x => {
              val matched = filter(xmlKids(x), isElemNamed(n)(_))
              one(when(size(matched) >= 1,
                element_at(matched, size(matched))))
            }))
            case _ => None
          }
        }
      case ArrayIndex(b, Unary("-", NumLit(t)))
          if !t.contains(".") && !isXmlStep(b) =>
        // negative index counts from the END
        pointwiseSeq(b, env).map(bs => fl(bs, x => {
          val arr = x.try_cast("array<variant>")
          one(when(size(arr) >= t.toInt, element_at(arr, -t.toInt)))
        }))
      case ArrayIndex(b, idxE)
          if !idxE.isInstanceOf[NumLit] && !isXmlStep(b) =>
        // non-literal bracket = XPath-style predicate (the row rule)
        pointwiseSeq(FilterPred(b, idxE), env)
      case ArrayIndex(b, NumLit(t))
          if !t.contains(".") && !isXmlStep(b) =>
        // literal integers are 0-BASED array indexing (JSON dialect)
        pointwiseSeq(b, env).map(bs => fl(bs, x =>
          one(get(x.try_cast("array<variant>"), lit(t.toInt)))))
      case FilterPred(b, p) =>
        pointwiseSeq(b, env).flatMap { bs =>
          // probe the predicate with a dummy context item, then build
          boolOf(p, env + ("$$" -> LambdaItem(lit(0)))).map { _ =>
            filter(bs, x => coalesce(
              boolOf(p, env + ("$$" -> LambdaItem(x))).get, lit(false)))
          }
        }
      case Range(f, t) =>
        for (fc <- scalarOf(f, env); tc <- scalarOf(t, env)) yield {
          val fLong = fc.try_cast("long")
          val tLong = tc.try_cast("long")
          // `a to b` with a > b is EMPTY (sequence() would count down)
          transform(
            coalesce(when(fLong <= tLong, sequence(fLong, tLong)),
              expr("cast(array() as array<bigint>)")),
            nCol => parse_json(nCol.cast("string")))
        }
      case If(c, t, e2) =>
        for (cc <- boolOf(c, env); ts <- pointwiseSeq(t, env);
             es <- pointwiseSeq(e2, env))
          yield when(coalesce(cc, lit(false)),
            coalesce(ts, emptyVarr)).otherwise(coalesce(es, emptyVarr))
      case fw: Flwor => flworSeq(fw, env)
      case _ =>
        // anything with a scalar pointwise form is a 0/1-item sequence
        pointwise(e, env).map(c => filter(array(c), y => y.isNotNull))
    }
  }

  /** FLWOR as a lambda pipeline: `for` = flatten∘transform (with the
    * member-wise array itemization of the row path), `let` = a lambda
    * sequence binding, `where` = conditional empty. Bails (None) on
    * order-by, positional vars, and anything the pointwise compilers
    * can't express — including predicates needing position stashes. */
  /** Control-flow bail used to unwind a single-compile pointwise
    * attempt out of an eagerly-applied lambda builder. */
  private object PointwiseBail
      extends scala.util.control.ControlThrowable

  private def flworSeq(fw: Jsoniq.Flwor,
                       env: Map[String, Binding]): Option[Column] = {
    import Jsoniq._
    // `lam` = vars bound by ENCLOSING for clauses of this pipeline. A
    // for-source must be a plain variable reference (an attribute — one
    // evaluation per row) or a walk rooted ONLY in lam vars (small
    // per-item subtrees). Anything else — in particular document walks
    // over outer lets — would be RE-EVALUATED inside every lambda
    // iteration (the whole-document-per-binding-tuple trap this
    // compiler exists to kill), so it bails to the row machinery,
    // whose hoisting/decorrelation evaluates the walk once.
    def go(clauses: List[Clause], env2: Map[String, Binding],
           lam: Set[String]): Option[Column] = clauses match {
      case Nil => pointwiseSeq(fw.ret, env2).map(sq => coalesce(sq, emptyVarr))
      case ForClause(v, src, None) :: rest
          if src.isInstanceOf[VarRef] || freeVars(src).subsetOf(lam) =>
        pointwiseSeq(src, env2).flatMap { srcArr =>
          // `for` binds ARRAY items member-wise (the dialect rule)
          val itemized = flatten(transform(coalesce(srcArr, emptyVarr),
            x => coalesce(x.try_cast("array<variant>"), array(x))))
          // probe the rest with a dummy binding, then build for real
          go(rest, env2 + (v -> LambdaItem(lit(0))), lam + v).map { _ =>
            flatten(transform(itemized,
              x => go(rest, env2 + (v -> LambdaItem(x)), lam + v).get))
          }
        }
      case LetClause(v, value) :: rest =>
        pointwiseSeq(value, env2).flatMap { arr0 =>
          val arr = coalesce(arr0, emptyVarr)
          // a let referenced MORE THAN ONCE binds through a real lambda
          // variable: direct substitution copies the value's column
          // tree per reference, which goes EXPONENTIAL under the
          // depth-capped recursion inliner (3 references x 16 levels
          // OOM'd Column.normalize). Single-reference lets keep the
          // direct form — no interpreted HOF dispatch on hot paths.
          var refs = 0
          def cnt(x: Expr): Expr = {
            x match { case VarRef(`v`) => refs += 1; case _ => () }
            Jsoniq.mapChildren(x)(cnt)
          }
          def cntClause(cl: Clause): Unit = cl match {
            case ForClause(_, in, _) => cnt(in); ()
            case LetClause(_, x) => cnt(x); ()
            case WhereClause(x) => cnt(x); ()
            case OrderClause(ks) => ks.foreach(k => cnt(k.key))
            case _ => ()
          }
          rest.foreach(cntClause)
          cnt(fw.ret)
          if (refs <= 1)
            go(rest, env2 + (v -> LambdaSeq(arr)), lam)
          else
            // compile the rest ONCE (a probe-then-build double compile
            // doubles per nesting level — exponential under recursion);
            // a bail inside the lambda unwinds to None
            try Some(flatten(transform(array(arr),
              x => go(rest, env2 + (v -> LambdaSeq(x)), lam)
                .getOrElse(throw PointwiseBail))))
            catch { case PointwiseBail => None }
        }
      case WhereClause(w) :: rest =>
        boolOf(w, env2).flatMap(c => go(rest, env2, lam).map(body =>
          when(coalesce(c, lit(false)), body).otherwise(emptyVarr)))
      case _ => None // order-by / positional / walk sources: row machinery
    }
    go(fw.clauses.toList, env, Set.empty)
  }

  // --------------------------------------------------------- scalar eval
  /** Evaluate `e` to at most one item per tuple: returns the stream +
    * `__v` (variant; SQL null = empty sequence). Multi-item results keep
    * the first item in sequence order (the corpus' scalar positions are
    * genuinely single-valued). */
  private def evalScalar(store: Store, e: Jsoniq.Expr, tuples: DataFrame,
                         env: Map[String, Binding]): DataFrame = {
    import Jsoniq._
    pointwise(e, env) match {
      case Some(c) => tuples.withColumn("__v", c)
      case None => e match {
        case Binary("<<", Jsoniq.VarRef(a), Jsoniq.VarRef(b)) =>
          // document order: compare the bound items' POSITION VECTORS
          // (Quantified stashes each binding's POS — lexicographic
          // array comparison IS document-order-before)
          def posOf(n: String): String = env.get(n) match {
            case Some(ItemVar(_, _, aux)) if aux.contains("posvec") =>
              aux("posvec")
            case _ => throw new UnsupportedOperationException(
              s"<< needs quantifier-bound operands, $$$n has no position")
          }
          tuples.withColumn("__v",
            jsonBool(col(posOf(a)) < col(posOf(b))))
        case Quantified(bindings, pred) =>
          // existential: bind each sequence like a for (NO array
          // auto-unbox — XQuery iterates the sequence itself), stash
          // position vectors for <<, and keep tuples with ANY
          // satisfying combination. This path is only reached when the
          // in-row exists² compile bailed (a << predicate needs the
          // stashes), so bind ROW-wise: hierarchical __pos keeps the
          // vectors document-order-comparable across bindings — the
          // flat fast path would number items within each FILTERED
          // sequence instead.
          val ord0 = gensym("qo")
          var cur = tuples.withColumn(ord0, col(ORD))
          var qEnv = env
          bindings.foreach { case (v, inE) =>
            val s = evalSeqRows(store, inE, cur, qEnv)
            val pv = gensym(s"qp_$v")
            val cn = gensym(s"qv_$v")
            cur = s.withColumn(pv, col(POS))
              .withColumn(ORD, concat(col(ORD), col(POS)))
              .withColumnRenamed(ITEM, cn)
              .drop(POS)
            qEnv = shadowStatic(qEnv, v) +
              (v -> ItemVar(cn, None, Map("posvec" -> pv)))
          }
          val checked = evalScalar(store, pred, cur, qEnv)
          val hit = checked.filter(asBool(col("__v")))
            .select(col(ord0).as("__qjo")).distinct()
            .withColumn("__qhit", lit(true))
          tuples.join(hit, tuples(ORD) === hit("__qjo"), "left")
            .withColumn("__v", jsonBool(coalesce(col("__qhit"), lit(false))))
            .drop("__qjo", "__qhit")
        case Binary(op, l, r) if op.startsWith("g_") =>
          // general comparison over sequences: EXISTENTIAL — true iff
          // ANY (left item, right item) pair satisfies the value
          // comparison; empty operands yield false (XQuery semantics —
          // `$$[][].foo[].baz = 'bar'` probes every leaf)
          val ls = evalSeq(store, l, tuples, env)
            .select(col(ORD).as("__gjo"), col(ITEM).as("__gl"))
          val rs = evalSeq(store, r, tuples, env)
            .select(col(ORD).as("__gjo"), col(ITEM).as("__gr"))
          val hit = ls.join(rs, "__gjo")
            .filter(coalesce(
              cmpBoolAst(op.stripPrefix("g_"), l, r,
                col("__gl"), col("__gr")),
              lit(false)))
            .select(col("__gjo")).distinct()
            .withColumn("__ghit", lit(true))
          tuples.join(hit, tuples(ORD) === hit("__gjo"), "left")
            .withColumn("__v", jsonBool(coalesce(col("__ghit"), lit(false))))
            .drop("__gjo", "__ghit")
        case Binary(op, l, r) =>
          // one operand is non-pointwise (pointwise handled both-sided
          // operators above); evaluate sides in sequence, combine with
          // the shared combinators
          val lf = gensym("bl")
          val s1 = evalScalar(store, l, tuples, env).withColumnRenamed("__v", lf)
          val s2 = evalScalar(store, r, s1, env)
          val combined = op match {
            case "or" | "and" => boolCol(op, col(lf), col("__v"))
            case "eq" | "ne" | "lt" | "le" | "gt" | "ge" =>
              cmpColAst(op, l, r, col(lf), col("__v"))
            case _ => arithCol(op, col(lf), col("__v"))
          }
          s2.withColumn("__v", combined).drop(lf)
        case Unary("-", x) =>
          val s = evalScalar(store, x, tuples, env)
          s.withColumn("__v", negCol(col("__v")))
        case InstanceOf(x, typeName) =>
          val s = evalScalar(store, x, tuples, env)
          s.withColumn("__v", instanceCol(col("__v"), typeName))
        case ObjectCtor(entries) =>
          var cur = tuples
          // drop EXACTLY the columns this ctor minted — prefix-matching
          // here once destroyed an OUTER ctor's accumulated entries when
          // a nested ctor cleaned up inside the outer's entry loop
          val mine = Seq.newBuilder[String]
          val parts = entries.zipWithIndex.map {
            case (Right((k, ve)), i) =>
              val cn = gensym(s"oe$i")
              mine += cn
              cur = evalScalar(store, ve, cur, env).withColumnRenamed("__v", cn)
              val keyJson = lit("\"" + k.replace("\\", "\\\\")
                .replace("\"", "\\\"") + "\":")
              concat(keyJson, to_json(coalesce(col(cn), vnull)))
            case (Left(splat), i) =>
              val cn = gensym(s"os$i")
              mine += cn
              cur = evalScalar(store, splat, cur, env).withColumnRenamed("__v", cn)
              val j = to_json(col(cn))
              when(col(cn).isNull || j === "{}", lit(""))
                .otherwise(j.substr(lit(2), length(j) - 2))
          }
          val body = array_join(
            filter(array(parts: _*), p => p =!= lit("")), ",")
          cur.withColumn("__v",
              parse_json(concat(lit("{"), body, lit("}"))))
            .drop(mine.result(): _*)
        case ArrayCtor(items) =>
          // JSONiq array construction FLATTENS sequence-valued members:
          // `[ for $x in ... return e ]` brackets the whole sequence;
          // literal members are singleton sequences, so scalars keep
          // their old shape
          var cur = tuples
          val mine = Seq.newBuilder[String]
          val parts = items.zipWithIndex.map { case (ve, i) =>
            val cn = gensym(s"ae$i")
            mine += cn
            cur = seqJsonList(store, ve, cur, env).withColumnRenamed("__l", cn)
            col(cn)
          }
          val body =
            if (parts.isEmpty) lit("")
            else array_join(flatten(array(parts: _*)), ",")
          cur.withColumn("__v",
              parse_json(concat(lit("["), body, lit("]"))))
            .drop(mine.result(): _*)
        case ElemCtor(name, attrs, content) =>
          // serialize to an XML string item: attr/content expressions
          // evaluate as sequences, items joined by spaces (XQuery content
          // serialization), strings raw, other items canonical JSON;
          // runtime-empty content self-closes (<n/>) like the reference's
          // serializer on XMark q02's bidderless auctions
          var cur = tuples
          val mine = Seq.newBuilder[String]
          def partsCol(parts: Seq[Either[String, Jsoniq.Expr]],
                       tag: String): Column = {
            val cols = parts.zipWithIndex.map {
              case (Left(s), _) => lit(s)
              case (Right(e2), i) =>
                val cn = gensym(s"x$tag$i")
                mine += cn
                cur = seqText(store, e2, cur, env).withColumnRenamed("__t", cn)
                col(cn)
            }
            if (cols.isEmpty) lit("") else concat(cols: _*)
          }
          val attrCols = attrs.zipWithIndex.map { case ((an, parts), i) =>
            concat(lit(s""" $an=""""), partsCol(parts, s"a$i"), lit("\""))
          }
          val contentCol = partsCol(content, "c")
          val head = if (attrCols.isEmpty) lit(s"<$name")
            else concat(lit(s"<$name") +: attrCols: _*)
          val xml = when(contentCol === "", concat(head, lit("/>")))
            .otherwise(concat(head, lit(">"), contentCol, lit(s"</$name>")))
          cur.withColumn("__v", jsonString(xml)).drop(mine.result(): _*)
        case Call(name, args) => evalCallScalar(store, name, args, tuples, env)
        case other => pointwiseSeq(other, env) match {
          case Some(arr) =>
            // in-row sequence: first item without an aggregate+join
            tuples.withColumn("__v", get(coalesce(arr, emptyVarr), lit(0)))
          case None =>
            // general route: evaluate the sequence, keep the first item
            val s = evalSeq(store, other, tuples, env)
            val agg = s.groupBy(col(ORD).as("__jord"))
              .agg(expr(s"min_by($ITEM, $POS)").as("__v"))
            tuples.join(agg, tuples(ORD) === agg("__jord"), "left")
              .drop("__jord")
        }
      }
    }
  }

  /** Collect one target pointer per binding tuple (in tuple order) and
    * hand the statement to [[JsoniqUpdate.applyAll]]. Target grammar:
    * `jn:doc` literals, static-let vars, `for`-bound members (their
    * (array, position) slot), literal field derefs, and array indices
    * that are literals or per-tuple expressions (`$doc[$pos - 1]`). */
  private def applyUpdate(store: Store, u: Jsoniq.UpdateStmt,
                          tuples: DataFrame,
                          env: Map[String, Binding]): Unit = {
    import Jsoniq._
    // plan steps: Left(field) | Right(Left(staticIdx)) | Right(Right(col
    // name holding the per-tuple 0-BASED index as a long))
    type PlanStep = Either[String, Either[Int, String]]
    var cur = tuples
    def resolve(e: Expr): (String, String, List[PlanStep]) = e match {
      case Call("jn:doc", Seq(StrLit(c), StrLit(d))) => (c, d, Nil)
      case VarRef(n) => env.get(n) match {
        case Some(ItemVar(_, Some((c, d, steps, posCol)), _)) =>
          // the bound member's slot: static steps to the array + its
          // 1-based iteration position, shifted per tuple
          val zc = gensym("uz")
          cur = cur.withColumn(zc, col(posCol) - 1)
          val static = steps.map {
            case Left(f) => Left(f): PlanStep
            case Right(i) => Right(Left(i)): PlanStep
          }
          (c, d, static :+ (Right(Right(zc)): PlanStep))
        case Some(SeqVar(_, Some(st))) =>
          (st.collection, st.doc, st.steps.map {
            case Left(f) => Left(f): PlanStep
            case Right(i) => Right(Left(i)): PlanStep
          })
        case _ => throw new UnsupportedOperationException(
          s"update target $$$n is not document-addressable")
      }
      case Deref(base, f) =>
        val (c, d, steps) = resolve(base)
        (c, d, steps :+ (Left(f): PlanStep))
      case ArrayIndex(base, NumLit(n)) if !n.contains(".") =>
        val (c, d, steps) = resolve(base)
        (c, d, steps :+ (Right(Left(n.toInt)): PlanStep))
      case ArrayIndex(base, idxE) =>
        val (c, d, steps) = resolve(base)
        val cn = gensym("ui")
        cur = evalScalar(store, idxE, cur, env)
          .withColumn(cn, expr("try_cast(__v as long)")).drop("__v")
        (c, d, steps :+ (Right(Right(cn)): PlanStep))
      case other => throw new UnsupportedOperationException(
        s"update target must be a document path, got $other")
    }
    val (collection, doc, plan) = resolve(u.target)
    val dynCols = plan.collect { case Right(Right(cn)) => cn }
    val rows =
      if (dynCols.isEmpty) {
        // static pointer: one application per tuple collapses to one;
        // only the tuple COUNT matters (zero tuples -> no-op)
        if (cur.limit(1).count() == 0L) Seq.empty
        else Seq(Map.empty[String, Long])
      } else cur
        .select((col(ORD) +: dynCols.map(col)): _*)
        .orderBy(col(ORD))
        .collect().toSeq
        .map(r => dynCols.zipWithIndex.map { case (cn, i) =>
          require(!r.isNullAt(i + 1),
            "update target index evaluated to empty/non-integer")
          cn -> r.getLong(i + 1)
        }.toMap)
    val pointers = rows.map { vals =>
      plan.map {
        case Left(f) => Left(f): Either[String, Int]
        case Right(Left(i)) => Right(i): Either[String, Int]
        case Right(Right(cn)) => Right(vals(cn).toInt): Either[String, Int]
      }
    }
    val valueJson = u.value.map(v => JsoniqUpdate.literalJson(v).getOrElse(
      throw new UnsupportedOperationException(
        s"update value must be literal JSON, got $v")))
    val position = u.position.map {
      case NumLit(n) if !n.contains(".") => n.toInt
      case other => throw new UnsupportedOperationException(
        s"insert position must be a literal integer, got $other")
    }
    JsoniqUpdate.applyAll(store, collection, doc, u.kind, pointers,
      valueJson, position)
  }

  /** Per-tuple ordered list of a sequence's item JSONs: adds `__l`
    * (array<string>, empty array for the empty sequence). */
  private def seqJsonList(store: Store, e0: Jsoniq.Expr, tuples0: DataFrame,
                          env0: Map[String, Binding]): DataFrame = {
    val (e, tuples, env) = hoistStatic(store, e0, tuples0, env0)
    pointwiseSeq(e, env) match {
      case Some(arr) =>
        tuples.withColumn("__l",
          transform(coalesce(arr, emptyVarr), x => to_json(x)))
      case None =>
        val s = evalSeq(store, e, tuples, env)
        val agg = s.groupBy(col(ORD).as("__jord"))
          .agg(expr(s"transform(sort_array(collect_list(struct(" +
            s"$POS as p, to_json($ITEM) as t))), x -> x.t)").as("__l"))
        tuples.join(agg, tuples(ORD) === agg("__jord"), "left")
          .drop("__jord")
          .withColumn("__l", coalesce(col("__l"), expr("array()")))
    }
  }

  /** Per-tuple serialized text of a sequence expression: string items
    * raw, everything else canonical JSON; the XQuery content rule
    * separates only ADJACENT ATOMIC items with a space — serialized
    * elements (strings starting '<') concatenate directly, the
    * reference's own element-sequence rendering. Adds `__t` (empty
    * string for the empty sequence). */
  private def seqText(store: Store, e0: Jsoniq.Expr, tuples0: DataFrame,
                      env0: Map[String, Binding]): DataFrame = {
    val (e, tuples, env) = hoistStatic(store, e0, tuples0, env0)
    textFast(e, env) match {
      case Some(t) => return tuples.withColumn("__t", t)
      case None => ()
    }
    pointwiseSeq(e, env) match {
      case Some(arr) =>
        return tuples.withColumn("__t", textOfSeq(arr))
      case None => ()
    }
    val s = evalSeq(store, e, tuples, env)
    val itemText = when(expr(s"schema_of_variant($ITEM)") === "STRING",
      expr(s"cast($ITEM as string)"))
      .otherwise(coalesce(xmlSerializeCol(col(ITEM)), to_json(col(ITEM))))
    val agg = s.withColumn("__it", itemText)
      .groupBy(col(ORD).as("__jord"))
      .agg(expr(s"transform(sort_array(collect_list(struct(" +
        s"$POS as p, __it as t))), x -> x.t)").as("__ts"))
      .withColumn("__t", expr(
        "array_join(transform(__ts, (x, i) -> CASE WHEN i = 0 THEN x " +
          "WHEN x NOT LIKE '<%' AND element_at(__ts, i) NOT LIKE '<%' " +
          "THEN concat(' ', x) ELSE x END), '')"))
      .drop("__ts")
    tuples.join(agg, tuples(ORD) === agg("__jord"), "left")
      .drop("__jord")
      .withColumn("__t", coalesce(col("__t"), lit("")))
  }

  // ------------------------------------------------------------ functions
  private def evalCallScalar(store: Store, name: String,
                             args: Seq[Jsoniq.Expr], tuples: DataFrame,
                             env: Map[String, Binding]): DataFrame = {
    def aggOver(e: Jsoniq.Expr, aggs: Seq[Column],
                finish: DataFrame => Column): DataFrame = {
      val s = evalSeq(store, e, tuples, env)
      val g = s.groupBy(col(ORD).as("__jord")).agg(aggs.head, aggs.tail: _*)
      val joined = tuples.join(g, tuples(ORD) === g("__jord"), "left")
        .drop("__jord")
      joined.withColumn("__v", finish(joined))
        .drop(g.columns.filter(_ != "__jord").filter(joined.columns.contains): _*)
    }
    name match {
      case "count" =>
        require(args.size == 1, "count(arg)")
        aggOver(args.head, Seq(count(lit(1)).as("__c")),
          d => jsonNumber(coalesce(col("__c"), lit(0L))))
      case "sum" =>
        require(args.size == 1, "sum(arg)")
        aggOver(args.head, Seq(
          sum(expr(s"try_cast($ITEM as long)")).as("__sl"),
          sum(expr(s"try_cast($ITEM as double)")).as("__sd"),
          count(lit(1)).as("__c"),
          count(expr(s"case when schema_of_variant($ITEM) = 'BIGINT' " +
            "then 1 end")).as("__ci")),
          d => when(coalesce(col("__c"), lit(0L)) === 0, jsonNumber(lit(0L)))
            .when(col("__ci") === col("__c"), jsonNumber(col("__sl")))
            .otherwise(jsonNumber(col("__sd"))))
      case "exists" =>
        aggOver(args.head, Seq(count(lit(1)).as("__c")),
          d => jsonBool(coalesce(col("__c"), lit(0L)) > 0))
      case "empty" =>
        aggOver(args.head, Seq(count(lit(1)).as("__c")),
          d => jsonBool(coalesce(col("__c"), lit(0L)) === 0))
      case "not" =>
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v",
          jsonBool(!coalesce(asBool(col("__v")), lit(false))))
      case "contains" =>
        require(args.size == 2, "contains(s, sub)")
        val lf = gensym("cs")
        val s1 = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", lf)
        val s2 = evalScalar(store, args(1), s1, env)
        s2.withColumn("__v", jsonBool(
            expr(s"contains(cast($lf as string), cast(__v as string))")))
          .drop(lf)
      case "deep-equal" =>
        require(args.size == 2, "deep-equal(a, b)")
        val lf = gensym("de")
        val s1 = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", lf)
        val s2 = evalScalar(store, args(1), s1, env)
        s2.withColumn("__v",
            when(col(lf).isNull || col("__v").isNull, lit(null))
              .otherwise(jsonBool(to_json(col(lf)) === to_json(col("__v")))))
          .drop(lf)
      case "string" | "xs:string" =>
        // string value: ELEMENT items (XmlItem encoding) concatenate
        // their descendant text nodes (the XQuery rule, XMark q14's
        // contains(string(...), 'gold')); scalars cast lexically
        val walked = walkJoin(evalSeq(store, args.head, tuples, env),
          j => Seq(XmlItem.stringValueJson(j)))
        val agg = walked.groupBy(col(ORD).as("__jord"))
          .agg(expr(s"min_by($ITEM, $POS)").as("__v"))
        tuples.join(agg, tuples(ORD) === agg("__jord"), "left").drop("__jord")
      case "exactly-one" =>
        // the corpus' occurrences are genuinely single-valued; the
        // scalar contract already takes the first item in order
        evalScalar(store, args.head, tuples, env)
      case "fn:data" | "data" =>
        // atomization: attribute/text values are already atomic in the
        // item model
        evalScalar(store, args.head, tuples, env)
      case "xs:integer" =>
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v", jsonNumber(expr("try_cast(__v as long)")))
      case "zero-or-one" => evalScalar(store, args.head, tuples, env)
      case "starts-with" =>
        require(args.size == 2, "starts-with(s, prefix)")
        val lf = gensym("sw")
        val s1 = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", lf)
        val s2 = evalScalar(store, args(1), s1, env)
        s2.withColumn("__v", jsonBool(
            col(lf).try_cast("string").startsWith(col("__v").try_cast("string"))))
          .drop(lf)
      case "jn:null" =>
        require(args.isEmpty, "jn:null()")
        tuples.withColumn("__v", vnull)
      case "graft:recursion-overflow" =>
        val fn = args.headOption.collect {
          case Jsoniq.StrLit(s) => s }.getOrElse("?")
        tuples.withColumn("__v", parse_json(expr(
          s"raise_error('recursive function $fn exceeded the compiled " +
            "recursion depth (-Dgraft.recursion.depth) " +
            "[graft:recursion-overflow]')").cast("string")))
      case "jn:previous" | "jn:next" =>
        // the node's content at the previous/next revision (stashed by
        // the jn:all-times binding; reference function/jn/temporal/
        // Previous.java, Next.java — TemporalJsonDBItem.getPrevious/
        // getNext); empty sequence at the first/last revision
        val key = if (name == "jn:previous") "prev" else "next"
        args.head match {
          case Jsoniq.VarRef(n) if env.get(n).exists {
            case ItemVar(_, _, aux) => aux.contains(key)
            case _ => false
          } =>
            val Some(ItemVar(_, _, aux)) = env.get(n): @unchecked
            tuples.withColumn("__v", parse_json(col(aux(key))))
          case other =>
            // static doc form — jn:previous(jn:doc(c,d,3)) opens
            // STRICTLY the adjacent revision (reference PreviousAxis/
            // NextAxis open revision±1 and moveTo; absent = empty)
            var argRev: Option[Int] = None
            def stripRev(x: Jsoniq.Expr): Jsoniq.Expr = x match {
              case Jsoniq.Call("jn:doc", Seq(c: Jsoniq.StrLit,
                  d: Jsoniq.StrLit, Jsoniq.NumLit(t)))
                  if !t.contains(".") =>
                argRev = Some(t.toInt); Jsoniq.Call("jn:doc", Seq(c, d))
              case x2 => Jsoniq.mapChildren(x2)(stripRev)
            }
            val stripped = stripRev(other)
            val target = JsoniqUpdate.staticTargetIn(stripped, env)
              .getOrElse(throw new UnsupportedOperationException(
                s"$name over ${other.getClass.getSimpleName} " +
                  "(no time-axis stash and no static document path)"))
            val path = store.docPath(target.collection, target.doc)
            val revs = graft.sources.TemporalTable.commits(path)
              .map(_.revision)
            require(revs.nonEmpty,
              s"no revisions for ${target.collection}/${target.doc}")
            val nodeRev = argRev.getOrElse(revs.last)
            val adj = if (name == "jn:previous") nodeRev - 1 else nodeRev + 1
            if (!revs.contains(adj))
              tuples.withColumn("__v", lit(null).cast("variant"))
            else {
              val json = nodeJsonAt(store, target, adj)
              tuples.withColumn("__v",
                json.map(j => parse_json(lit(j)))
                  .getOrElse(lit(null).cast("variant")))
            }
        }
      case "xml:serialize" =>
        // XML text of an item-model node (reference function/xml/
        // Serialize.java); scalars serialize as their text
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v", when(col("__v").isNull, lit(null))
          .otherwise(jsonString(xmlSerializeCol(col("__v")))))
      case "xml:attribute-count" | "xml:namespace-count" =>
        // reference function/xml/trx/GetAttributeCount.java /
        // GetNamespaceCount.java. The item encoding keeps attributes
        // under '~a' (local names — namespace declarations are not part
        // of the model, the encoder's documented simplification, so
        // namespace-count is always 0); non-elements count 0 like the
        // reference's non-element cursor.
        val s = evalScalar(store, args.head, tuples, env)
        val cnt =
          if (name == "xml:namespace-count") lit(0)
          else coalesce(size(from_json(
            to_json(expr(s"variant_get(__v, '$$[''~a'']')")),
            "map<string,string>", Map.empty[String, String])),
            lit(0))
        s.withColumn("__v", when(col("__v").isNull, lit(null))
          .otherwise(jsonNumber(greatest(cnt, lit(0)))))
      case "sdb:child-count" | "sdb:descendant-count" =>
        // counts under the fused record model (reference sdb/trx/
        // GetChildCount.java, GetDescendantCount.java; the tests pin
        // {"a":{"b":1}} at child 1 / descendants 2 — a fused field is
        // one node). Executor-side streaming walk per item.
        val s = evalScalar(store, args.head, tuples, env)
        val counts = org.apache.spark.sql.graftbridge.GraftBridge.column(
          JsonTreeCounts(org.apache.spark.sql.graftbridge.GraftBridge
            .expression(to_json(col("__v")))))
        val field = if (name == "sdb:child-count") "child" else "desc"
        s.withColumn("__v", when(col("__v").isNull, lit(null))
          .otherwise(jsonNumber(counts.getField(field))))
      case "sdb:hash" =>
        // content hash (the reference hashes the stored subtree; equal
        // content ⇔ equal hash is the only property queries rely on)
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v",
          when(col("__v").isNull, lit(null))
            .otherwise(jsonString(md5(to_json(col("__v"))))))
      case "sdb:rollback" =>
        // the reference rolls back an OPEN WRITE transaction (sdb/trx/
        // Rollback.java:52); a document handle opens a read transaction,
        // on which the reference throws — this engine's textual updates
        // auto-commit per statement, so no write transaction is ever
        // open here and the same error is ALWAYS the right answer
        throw new UnsupportedOperationException(
          "sdb:rollback: the transaction is not a write transaction " +
            "(updates auto-commit per statement; nothing is open to " +
            "roll back)")
      case "sdb:explain" =>
        // compile the argument query through the FULL planning pipeline
        // and return the plan text WITHOUT executing it (reference
        // function/sdb/explain/Explain.java + QueryPlanSerializer.java:
        // its optimizer pipeline's plan; here Catalyst's). Default =
        // the formatted physical plan (PushedFilters / ReadSchema show
        // whether an index/typed-column actually serves — the
        // structural pushdown check); $verbose = true adds the
        // analyzed/optimized logical plans (the reference's
        // parsed-vs-optimized AST pair).
        require(args.nonEmpty && args.size <= 2,
          "sdb:explain(query[, verbose])")
        val q = litStr(args.head, "query")
        val verbose = args.lift(1).exists {
          case Jsoniq.BoolLit(b) => b
          case Jsoniq.Call("true" | "fn:true", Seq()) => true
          case Jsoniq.Call("false" | "fn:false", Seq()) => false
          case other => throw new UnsupportedOperationException(
            s"sdb:explain verbose literal expected, got $other")
        }
        // side-effectful routes (jn:store/xml:import/update statements)
        // run EAGERLY on the driver during compile — explaining one
        // would perform the write. Refuse loudly instead.
        if (containsEffect(Jsoniq.parse(q)))
          throw new UnsupportedOperationException(
            "sdb:explain: the argument query contains a side-effecting " +
              "call or update statement — compiling it would perform " +
              "the write; explain read-only queries only")
        val qe = compile(store, Jsoniq.parse(q), None).queryExecution
        val text = qe.explainString(
          if (verbose) org.apache.spark.sql.execution.ExtendedMode
          else org.apache.spark.sql.execution.FormattedMode)
        tuples.withColumn("__v", jsonString(lit(text)))
      case "sdb:commit" | "xml:commit" =>
        // sdb:commit COMMITS the open transaction and returns the new
        // revision (reference function/sdb/trx/Commit.java). Index DDL
        // is free in this engine (pushdown/metadata), so the commit is
        // content-identical: a BYTE COPY of the head revision's files
        // and shred sidecar — never a collect + reparse + reshred of a
        // multi-MB document on the driver. The revision numbering the
        // corpus' `{"revision": sdb:commit($doc)}` wrappers and the
        // scans' per-hit sdb:revision stashes observe is preserved.
        val (c, d) = resolveDocArg(args.head, env)
        val path = store.docPath(c, d)
        val head = graft.sources.TemporalTable.mostRecentRevision(path)
          .getOrElse(throw new IllegalArgumentException(s"no revisions for $c/$d"))
        // content-identical commit = NODE KEYS IDENTICAL to the copied
        // revision (the reference's empty commit keeps its page trees):
        // an EMPTY edit log makes keyTreeOf inherit instead of
        // renumbering fresh — without it, committing after an update
        // would silently re-mint every key the update preserved. The
        // log writes in the reservation hook like any update commit:
        // clears crash-orphaned logs at the reserved number and binds
        // to this writer's token ([[Store.readEditLog]] verifies)
        // a copy of a member-local sentinel row must keep its marker:
        // the marker rides in the commit message, and a copied sentinel
        // without it would fail parse_json loudly instead of serving
        val copyMsg = store.markerBaseOf(c, d, head)
          .map(b => s"memberlocal:$b").getOrElse("sdb:commit")
        val rev = graft.sources.TemporalTable.withSentinelPermit {
          graft.sources.TemporalTable
            .commitCopyOf(path, head, message = copyMsg,
              onReserve = (r, token) => {
                graft.sources.MetaIO.delete(store.editsPath(path, r))
                store.evictEditState(path, r)
                store.logEdits(c, d, r, Seq.empty,
                  Some(token).filter(_.nonEmpty))
              })
        }
        store.copyShred(c, d, head, rev)
        tuples.withColumn("__v", jsonNumber(lit(rev.toLong)))
      case "jn:create-cas-index" | "jn:create-path-index" |
          "jn:create-name-index" | "jn:find-cas-index" |
          "jn:find-path-index" | "jn:find-name-index" |
          "xml:create-cas-index" | "xml:create-path-index" |
          "xml:create-name-index" | "xml:find-cas-index" |
          "xml:find-path-index" | "xml:find-name-index" |
          "sdb:find-cas-index" | "sdb:find-path-index" |
          "sdb:find-name-index" =>
        // index DDL records the DEFINITION (kind, CAS content type,
        // paths) in the resource's registry sidecar and returns its
        // number; lookups stay pushdown + the fork/projection sidecars
        // (SURVEY §2.10). The definition is what gives `$paths = ()`
        // scans their coverage — the reference scans the index, whose
        // IndexDef owns the paths (index/IndexDef.java). The `xml:`
        // family (function/xml/XMLFun.java:148-181) shares the
        // registry — paths carry the XML pattern dialect and QName
        // literals register as element names; `sdb:find-*` are the
        // reference's namespace-agnostic finders (QueryUsage.java:376
        // calls sdb:find-cas-index over an XML resource).
        val (c, d) = resolveDocArg(args.head, env)
        val kind = name.split("-")(1) // cas | path | name
        val isCas = kind == "cas"
        val typ = if (isCas) litStr(args(1), "type") else ""
        def pathsOf(e2: Jsoniq.Expr): List[String] = e2 match {
          case Jsoniq.SeqCtor(items) => items.toList.flatMap(pathsOf)
          case Jsoniq.Call("fn:QName" | "QName", as) =>
            List(litStr(as.last, "name"))
          case other => List(litStr(other, "path"))
        }
        val paths = args.lift(if (isCas) 2 else 1).map(pathsOf)
          .getOrElse(Nil)
        val no =
          if (name.contains(":create-"))
            store.registerIndex(c, d, kind, typ, paths)
          else store.findIndex(c, d, kind, typ, paths).getOrElse(-1)
        // not-found = -1, the reference's contract (FindCASIndex.java:27)
        tuples.withColumn("__v", jsonNumber(lit(no.toLong)))
      case "jn:create-valid-time-index" =>
        // valid-time interval index DDL (reference jn/index/create/
        // CreateValidTimeIndex.java): REQUIRES the resource's valid-time
        // configuration (set at store time via the options form) —
        // the index always covers those two fields; $paths defaults to
        // /[]/<from> and /[]/<to> and is identification-only. Idempotent
        // on TYPE: a second definition would be a full duplicate.
        require(args.size == 1 || args.size == 2,
          "jn:create-valid-time-index(doc[, paths])")
        val (c, d) = resolveDocArg(args.head, env)
        val (fromF, toF) = store.validTimeConfig(c, d).getOrElse(
          throw new IllegalArgumentException(
            "jn:create-valid-time-index: resource does not have valid " +
              "time configuration — store with {\"validFromPath\": ..., " +
              "\"validToPath\": ...} options"))
        def pathsOf2(e2: Jsoniq.Expr): List[String] = e2 match {
          case Jsoniq.SeqCtor(items) => items.toList.flatMap(pathsOf2)
          case other => List(litStr(other, "path"))
        }
        val vtPaths = args.lift(1).map(pathsOf2).filter(_.nonEmpty)
          .getOrElse(List(s"/[]/$fromF", s"/[]/$toF"))
        val no = store.indexDefs(c, d).find(_.kind == "validtime")
          .map(_.no)
          .getOrElse(store.registerIndex(c, d, "validtime", "", vtPaths))
        tuples.withColumn("__v", jsonNumber(lit(no.toLong)))
      case "jn:create-projection-index" | "jn:find-projection-index" =>
        // columnar projection DDL (reference jn/index/create/
        // CreateProjectionIndex.java, find/FindProjectionIndex.java):
        // shape = rootPath + fields (types are NOT part of the lookup
        // key); -1 when no catalogued shape matches. The serving fast
        // path is the shred's typed member columns — the definition is
        // the catalogued shape handles resolve against.
        require(args.size >= 3,
          s"$name(doc, rootPath, fields[, types])")
        val (c, d) = resolveDocArg(args.head, env)
        val rootPath = litStr(args(1), "rootPath")
        def strsOf(e2: Jsoniq.Expr): List[String] = e2 match {
          case Jsoniq.SeqCtor(items) => items.toList.flatMap(strsOf)
          case other => List(litStr(other, "field"))
        }
        val fields = strsOf(args(2))
        val paths = rootPath :: fields
        val no =
          if (name.startsWith("jn:create-")) {
            // declared types: long/integer/int, boolean/bool, string/str
            // — the reference REJECTS double (its columns store 64-bit
            // longs; silent degradation is worse than an error)
            args.lift(3).map(strsOf).getOrElse(Nil).foreach { t =>
              if (!Set("long", "integer", "int", "boolean", "bool",
                  "string", "str").contains(t))
                throw new IllegalArgumentException(
                  s"jn:create-projection-index: unsupported column " +
                    s"type '$t'")
            }
            store.indexDefs(c, d)
              .find(x => x.kind == "projection" && x.paths == paths)
              .map(_.no)
              .getOrElse(store.registerIndex(c, d, "projection", "", paths))
          } else store.indexDefs(c, d)
            .find(x => x.kind == "projection" && x.paths == paths)
            .map(_.no).getOrElse(-1)
        tuples.withColumn("__v", jsonNumber(lit(no.toLong)))
      case "jn:drop-projection-index" | "jn:drop-valid-time-index" =>
        // index drops (reference jn/index/drop/DropProjectionIndex.java
        // — no number drops EVERY projection — and
        // DropValidTimeIndex.java); find-after-drop returns -1
        val (c, d) = resolveDocArg(args.head, env)
        val kind =
          if (name == "jn:drop-valid-time-index") "validtime"
          else "projection"
        val no = args.lift(1).map {
          case Jsoniq.NumLit(t) if !t.contains(".") => t.toInt
          case other => throw new UnsupportedOperationException(
            s"$name index number must be a literal, got $other")
        }
        val dropped = store.unregisterIndex(c, d, kind, no)
        if (dropped == 0 && no.isDefined)
          throw new IllegalArgumentException(
            s"SIRIXDBF0002 (index-not-found): no $kind index no " +
              s"${no.get} for collection $c and document $d")
        tuples.withColumn("__v", jsonNumber(lit(dropped.toLong)))
      case "jn:exists-database" =>
        // catalog existence probes (reference jn/io/ExistsDatabase.java,
        // ExistsResource.java — JNFun.java:258-264)
        require(args.size == 1, "jn:exists-database(name)")
        tuples.withColumn("__v",
          jsonBool(lit(store.existsDatabase(litStr(args(0), "name")))))
      case "jn:exists-resource" =>
        require(args.size == 2, "jn:exists-resource(collection, resource)")
        tuples.withColumn("__v", jsonBool(lit(store.existsResource(
          litStr(args(0), "collection"), litStr(args(1), "resource")))))
      case "sdb:revision" =>
        // revision of a document handle (head) or of a scan-bound node
        // (stashed per hit). Other node forms are not addressable in the
        // value model.
        args.head match {
          case Jsoniq.Call("jn:doc", Seq(Jsoniq.StrLit(c), Jsoniq.StrLit(d))) =>
            val rev = graft.sources.TemporalTable
              .mostRecentRevision(store.docPath(c, d))
              .getOrElse(throw new IllegalArgumentException(
                s"no revisions for $c/$d"))
            tuples.withColumn("__v", jsonNumber(lit(rev.toLong)))
          case Jsoniq.Call("jn:doc",
              Seq(Jsoniq.StrLit(c), Jsoniq.StrLit(d), Jsoniq.NumLit(t)))
              if !t.contains(".") =>
            tuples.withColumn("__v", jsonNumber(lit(t.toLong)))
          case Jsoniq.VarRef(n) if env.get(n).exists {
            case ItemVar(_, _, aux) => aux.contains("rev")
            case _ => false
          } =>
            val Some(ItemVar(_, _, aux)) = env.get(n): @unchecked
            tuples.withColumn("__v", jsonNumber(col(aux("rev"))))
          case other =>
            // a let-bound document handle (`let $d := jn:doc(c,d)
            // return sdb:revision($d)`) resolves through its static
            // target: the handle's revision is the HEAD at open
            JsoniqUpdate.staticTargetIn(other, env) match {
              case Some(t2) if t2.steps.isEmpty =>
                val rev = graft.sources.TemporalTable
                  .mostRecentRevision(store.docPath(t2.collection, t2.doc))
                  .getOrElse(throw new IllegalArgumentException(
                    s"no revisions for ${t2.collection}/${t2.doc}"))
                tuples.withColumn("__v", jsonNumber(lit(rev.toLong)))
              case _ => throw new UnsupportedOperationException(
                s"sdb:revision over ${other.getClass.getSimpleName} " +
                  "(no revision stash)")
            }
        }
      case "sdb:timestamp" | "sdb:author-name" | "sdb:author-id" |
          "sdb:most-recent-revision" =>
        // commit metadata of the document's bound revision (reference
        // sdb/trx/GetRevisionTimestamp.java — ISO_INSTANT text —
        // GetAuthorName.java, GetAuthorID.java, GetMostRecentRevision
        // .java): the commit log stores the fields per revision. This
        // engine identifies users by NAME; sdb:author-id is the name's
        // deterministic UUID (the reference mints a random UUID per
        // User — an identifier, not a value queries compute over).
        require(args.size == 1, s"$name(doc)")
        val (c, d, revOpt) = args.head match {
          case Jsoniq.Call("jn:doc", Seq(Jsoniq.StrLit(c0),
              Jsoniq.StrLit(d0), Jsoniq.NumLit(t))) if !t.contains(".") =>
            (c0, d0, Some(t.toInt))
          case other =>
            val (c0, d0) = resolveDocArg(other, env)
            (c0, d0, None)
        }
        val cms = graft.sources.TemporalTable.commits(store.docPath(c, d))
        require(cms.nonEmpty, s"no revisions for $c/$d")
        if (name == "sdb:most-recent-revision")
          tuples.withColumn("__v",
            jsonNumber(lit(cms.last.revision.toLong)))
        else {
          val cm = revOpt.map(r => cms.find(_.revision == r).getOrElse(
            throw new IllegalArgumentException(
              s"no revision $r for $c/$d"))).getOrElse(cms.last)
          val out = name match {
            case "sdb:timestamp" =>
              java.time.format.DateTimeFormatter.ISO_INSTANT
                .format(java.time.Instant.ofEpochMilli(cm.commitTsMs))
            case "sdb:author-id" => java.util.UUID.nameUUIDFromBytes(
              ("graft-user:" + cm.author)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
            case _ => cm.author
          }
          tuples.withColumn("__v", jsonString(lit(out)))
        }
      case "sdb:is-deleted" =>
        // does the node still exist at the HEAD revision (reference
        // sdb/trx/IsDeleted.java — moveTo in the most recent revision;
        // here the static path resolves against the head document)
        require(args.size == 1, s"$name(node)")
        val target = JsoniqUpdate.staticTargetIn(args.head, env).getOrElse(
          throw new UnsupportedOperationException(
            s"sdb:is-deleted needs a static document path, got ${args.head}"))
        val path = store.docPath(target.collection, target.doc)
        val head = graft.sources.TemporalTable.mostRecentRevision(path)
          .getOrElse(throw new IllegalArgumentException(
            s"no revisions for ${target.collection}/${target.doc}"))
        val docJ = store.doc(target.collection, target.doc, Some(head))
          .collect().head.getString(0)
        var nd = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(docJ)
        val stepIt = target.steps.iterator
        while (nd != null && stepIt.hasNext) {
          nd = stepIt.next() match {
            case Left(f) => if (nd.isObject) nd.get(f) else null
            case Right(i) =>
              if (nd.isArray && i >= 0 && i < nd.size()) nd.get(i) else null
          }
        }
        tuples.withColumn("__v", jsonBool(lit(nd == null)))
      case "sdb:valid-from" | "sdb:valid-to" =>
        // the configured interval field of an OBJECT item (reference
        // sdb/trx/GetValidFrom.java, GetValidTo.java): empty sequence
        // when the resource has no valid-time config, the item is not
        // an object, or the field is absent
        require(args.size == 1, s"$name(node)")
        args.head match {
          case Jsoniq.VarRef(n) => env.get(n) match {
            case Some(ItemVar(colName, Some((c2, d2, _, _)), _)) =>
              store.validTimeConfig(c2, d2) match {
                case None =>
                  tuples.withColumn("__v", lit(null).cast("variant"))
                case Some((fromF, toF)) =>
                  val f = if (name == "sdb:valid-from") fromF else toF
                  val v = variant_get(col(colName), fieldPath(f), "string")
                  tuples.withColumn("__v",
                    when(v.isNull, lit(null)).otherwise(jsonString(v)))
              }
            case _ => throw new UnsupportedOperationException(
              s"$name over $$$n (no static document binding)")
          }
          case other => throw new UnsupportedOperationException(
            s"$name over ${other.getClass.getSimpleName}")
        }
      case "sdb:path" =>
        // printed path of a scan-bound node; the fused
        // sdb:path(sdb:select-parent($x)) form reads the stashed PARENT
        // path (node identity beyond the stash is not in the value model)
        def pathOf(e2: Jsoniq.Expr, key: String): DataFrame = e2 match {
          case Jsoniq.VarRef(n) => env.get(n) match {
            case Some(ItemVar(_, _, aux)) if aux.contains(key) =>
              // an empty stash = the node has no self path (array-member
              // CAS hits): empty sequence, so exists() can branch
              tuples.withColumn("__v",
                when(length(col(aux(key))) === 0, lit(null))
                  .otherwise(jsonString(col(aux(key)))))
            case _ => throw new UnsupportedOperationException(
              s"sdb:path over $$$n (no path stash)")
          }
          case other => throw new UnsupportedOperationException(
            s"sdb:path over ${other.getClass.getSimpleName}")
        }
        args.head match {
          case Jsoniq.Call("sdb:select-parent", Seq(inner)) =>
            pathOf(inner, "ppath")
          case Jsoniq.Call(sn, sargs)
              if sn == "sdb:select-item" || sn == "jn:select-json-item" =>
            // printed path of a by-key selection (GetPathTest's
            // composition): the pointer resolves statically; ARRAY
            // nodes render their own trailing `/[]` (the engine-wide
            // Hit.path convention)
            val (_, _, _, _, ptr, isArr) =
              selectItemResolve(store, sn, sargs)
            tuples.withColumn("__v", jsonString(lit(
              NodeKeys.renderPath(ptr) + (if (isArr) "/[]" else ""))))
          case other => pathOf(other, "path")
        }
      case "sdb:nodekey" =>
        serveNodeKey(store, args.head, tuples, env)
      case "min" | "max" =>
        val fn = if (name == "min") "min" else "max"
        aggOver(args.head, Seq(
          expr(s"$fn(try_cast($ITEM as double))").as("__m"),
          count(lit(1)).as("__c"),
          count(expr(s"case when schema_of_variant($ITEM) = 'BIGINT' " +
            "then 1 end")).as("__ci")),
          d => when(coalesce(col("__c"), lit(0L)) === 0, lit(null))
            .when(col("__ci") === col("__c"),
              jsonNumber(col("__m").cast("long")))
            .otherwise(jsonNumber(col("__m"))))
      case "avg" =>
        aggOver(args.head, Seq(
          avg(expr(s"try_cast($ITEM as double)")).as("__a"),
          count(lit(1)).as("__c")),
          d => when(coalesce(col("__c"), lit(0L)) === 0, lit(null))
            .otherwise(jsonNumber(col("__a"))))

      // ---- XQuery F&O stdlib (reference gets these from brackit's
      // function library; semantics per the F&O 3.1 spec, pinned by the
      // reference's JsonQueryCorrectnessSweepTest) ----
      case "graft:object" =>
        // dynamic-key object constructor (the parser's {$k: v} desugar):
        // keys evaluate per tuple; the object assembles as JSON text
        require(args.size % 2 == 0, "graft:object(key, value, ...)")
        var cur = tuples
        val parts = args.grouped(2).toSeq.map { case Seq(k, v) =>
          val kc = gensym("okey"); val vc = gensym("oval")
          cur = evalScalar(store, k, cur, env).withColumnRenamed("__v", kc)
          cur = evalScalar(store, v, cur, env).withColumnRenamed("__v", vc)
          (kc, vc)
        }
        val pairTexts = parts.map { case (kc, vc) =>
          concat(quotedText(col(kc).try_cast("string")), lit(":"),
            coalesce(to_json(col(vc)), lit("null")))
        }
        cur.withColumn("__v", parse_json(concat(lit("{"),
            concat_ws(",", pairTexts: _*), lit("}"))))
          .drop(parts.flatMap(p => Seq(p._1, p._2)): _*)
      case "concat" | "fn:concat" =>
        // fn:concat: atomized string values, empty arguments vanish
        require(args.nonEmpty, "concat(a, b, ...)")
        var cur = tuples
        val cols2 = args.map { a =>
          val c2 = gensym("cc")
          cur = evalScalar(store, a, cur, env).withColumnRenamed("__v", c2)
          c2
        }
        val parts = cols2.map(c2 =>
          coalesce(atomizeCol(col(c2)).try_cast("string"),
            to_json(col(c2)), lit("")))
        cur.withColumn("__v", jsonString(concat(parts: _*)))
          .drop(cols2: _*)
      case "substring" | "fn:substring"
          if args.size == 2 || args.size == 3 =>
        // fn:substring: 1-based, fractional/out-of-range positions
        // ROUND then CLAMP (substring("metadata", 0, 3) keeps the
        // characters at positions 1 and 2 — the sweep's pinned case)
        val sv = gensym("sub")
        var cur = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", sv)
        val pv = gensym("subp")
        cur = evalScalar(store, args(1), cur, env)
          .withColumnRenamed("__v", pv)
        val src = atomizeCol(col(sv)).try_cast("string")
        val rs = floor(col(pv).try_cast("double") + 0.5)
        // drop only THIS invocation's gensyms — a pattern drop over a
        // "__sub" prefix would also strip an enclosing substring's
        // still-referenced columns when calls nest
        val mine = Seq.newBuilder[String]
        mine += sv; mine += pv
        val res = if (args.size == 2) {
          val lo = greatest(rs, lit(1.0))
          src.substr(lo.cast("int"), lit(Int.MaxValue))
        } else {
          val lv = gensym("subl")
          mine += lv
          cur = evalScalar(store, args(2), cur, env)
            .withColumnRenamed("__v", lv)
          val e = rs + floor(col(lv).try_cast("double") + 0.5)
          val lo = greatest(rs, lit(1.0))
          val cnt = greatest(e - lo, lit(0.0))
          src.substr(lo.cast("int"), cnt.cast("int"))
        }
        cur.withColumn("__v",
            when(src.isNull, lit(null)).otherwise(jsonString(res)))
          .drop(mine.result(): _*)
      case "string-length" | "fn:string-length" =>
        // counts CODEPOINTS (Spark's length over UTF8String counts
        // characters, non-BMP included — the emoji pin)
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v", jsonNumber(coalesce(
          length(atomizeCol(col("__v")).try_cast("string")).cast("long"),
          lit(0L))))
      case "ends-with" | "fn:ends-with" =>
        require(args.size == 2, "ends-with(s, suffix)")
        val lf = gensym("ew")
        val s1 = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", lf)
        val s2 = evalScalar(store, args(1), s1, env)
        s2.withColumn("__v", jsonBool(
            col(lf).try_cast("string").endsWith(col("__v").try_cast("string"))))
          .drop(lf)
      case "upper-case" | "fn:upper-case" =>
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v", when(col("__v").isNull, lit(null))
          .otherwise(jsonString(upper(col("__v").try_cast("string")))))
      case "lower-case" | "fn:lower-case" =>
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v", when(col("__v").isNull, lit(null))
          .otherwise(jsonString(lower(col("__v").try_cast("string")))))
      case "normalize-space" | "fn:normalize-space" =>
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v", when(col("__v").isNull, lit(null))
          .otherwise(jsonString(trim(regexp_replace(
            col("__v").try_cast("string"), "\\s+", " ")))))
      case "substring-before" | "substring-after" =>
        require(args.size == 2, s"$name(s, sub)")
        val lf = gensym("sb")
        val s1 = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", lf)
        val s2 = evalScalar(store, args(1), s1, env)
        val src = col(lf).try_cast("string")
        val sub = col("__v").try_cast("string")
        val at = instr(src, sub)
        val res =
          if (name == "substring-before")
            when(at === 0, lit("")).otherwise(
              src.substr(lit(1), (at - 1).cast("int")))
          else when(at === 0, lit("")).otherwise(
            src.substr((at + length(sub)).cast("int"),
              lit(Int.MaxValue)))
        s2.withColumn("__v", when(src.isNull, lit(null))
          .otherwise(jsonString(res))).drop(lf)
      case "translate" | "fn:translate" =>
        require(args.size == 3, "translate(s, from, to)")
        val a = gensym("tr"); val b = gensym("trf")
        var cur = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", a)
        cur = evalScalar(store, args(1), cur, env)
          .withColumnRenamed("__v", b)
        cur = evalScalar(store, args(2), cur, env)
        cur.withColumn("__v", when(col(a).isNull, lit(null))
          .otherwise(jsonString(expr(
            s"translate(cast($a as string), cast($b as string), " +
              "cast(__v as string))"))))
          .drop(a, b)
      case "replace" | "fn:replace" =>
        require(args.size == 3, "replace(s, pattern, repl)")
        val a = gensym("rp"); val b = gensym("rpp")
        var cur = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", a)
        cur = evalScalar(store, args(1), cur, env)
          .withColumnRenamed("__v", b)
        cur = evalScalar(store, args(2), cur, env)
        cur.withColumn("__v", when(col(a).isNull, lit(null))
          .otherwise(jsonString(expr(
            s"regexp_replace(cast($a as string), cast($b as string), " +
              "cast(__v as string))"))))
          .drop(a, b)
      case "matches" | "fn:matches" =>
        require(args.size == 2, "matches(s, pattern)")
        val lf = gensym("mt")
        val s1 = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", lf)
        val s2 = evalScalar(store, args(1), s1, env)
        s2.withColumn("__v", jsonBool(expr(
            s"cast($lf as string) rlike cast(__v as string)")))
          .drop(lf)
      case "string-join" | "fn:string-join" =>
        require(args.size == 1 || args.size == 2, "string-join(seq[, sep])")
        val sepC = gensym("sjsep")
        val frame = args.lift(1) match {
          case Some(sepE) => evalScalar(store, sepE, tuples, env)
            .withColumnRenamed("__v", sepC)
          case None => tuples.withColumn(sepC, lit(""))
        }
        val s = evalSeq(store, args.head, frame, env)
        val agg = s
          .withColumn("__it",
            coalesce(atomizeCol(col(ITEM)).try_cast("string"), lit("")))
          .groupBy(col(ORD).as("__jord"))
          .agg(expr(s"array_join(transform(sort_array(collect_list(" +
            s"struct($POS as p, __it as t))), x -> x.t), " +
            s"first(cast($sepC as string)))").as("__v"))
        frame.join(agg, frame(ORD) === agg("__jord"), "left")
          .drop("__jord").drop(sepC)
          .withColumn("__v", jsonString(coalesce(col("__v"), lit(""))))
      case "round-half-to-even" | "fn:round-half-to-even"
          if args.size == 1 || args.size == 2 =>
        // banker's rounding (fn:round-half-to-even: 2.5 -> 2, 3.5 -> 4)
        val prec = args.lift(1) match {
          case None => 0
          case Some(Jsoniq.NumLit(t)) if !t.contains(".") => t.toInt
          case Some(other2) => throw new UnsupportedOperationException(
            s"round-half-to-even precision literal expected, got $other2")
        }
        val s = evalScalar(store, args.head, tuples, env)
        val a = atomizeCol(col("__v"))
        val r = bround(a.try_cast("double"), prec)
        s.withColumn("__v",
          when(a.isNull, lit(null))
            .when(schema_of_variant(a).isin(IntSchemas: _*), a)
            .when(lit(prec <= 0) && abs(r) < lit(9.0e18),
              jsonNumber(r.cast("long")))
            .otherwise(jsonNumber(r)))
      case "floor" | "fn:floor" | "ceiling" | "fn:ceiling" =>
        val s = evalScalar(store, args.head, tuples, env)
        val a = atomizeCol(col("__v"))
        val d = a.try_cast("double")
        val r = if (name.endsWith("floor")) floor(d) else ceil(d)
        s.withColumn("__v",
          when(a.isNull, lit(null))
            .when(schema_of_variant(a).isin(IntSchemas: _*), a)
            .otherwise(jsonNumber(r)))
      case "abs" | "fn:abs" =>
        val s = evalScalar(store, args.head, tuples, env)
        val a = atomizeCol(col("__v"))
        s.withColumn("__v",
          when(a.isNull, lit(null))
            .when(schema_of_variant(a).isin(IntSchemas: _*),
              jsonNumber(abs(a.try_cast("long"))))
            .when(schema_of_variant(a).startsWith("DECIMAL"),
              jsonDecimal(abs(a.try_cast("decimal(38,12)"))))
            .otherwise(jsonNumber(abs(a.try_cast("double")))))
      case "jn:size" =>
        // arity of an array item (reference brackit JSONFun's size;
        // the DataFrame layer's count(E[])→size fold is the §2.4 twin)
        val s = evalScalar(store, args.head, tuples, env)
        s.withColumn("__v", when(col("__v").isNull, lit(null))
          .otherwise(jsonNumber(
            size(col("__v").try_cast("array<variant>")).cast("long"))))
      case other =>
        val s = evalCallSeq(store, other, args, tuples, env)
        val agg = s.groupBy(col(ORD).as("__jord"))
          .agg(expr(s"min_by($ITEM, $POS)").as("__v"))
        tuples.join(agg, tuples(ORD) === agg("__jord"), "left").drop("__jord")
    }
  }

  /** Functions whose result is inherently a sequence / needs the store. */
  private val SeqFunctions = Set("jn:store", "jn:doc", "jn:all-times",
    "tokenize", "fn:tokenize", "index-of", "fn:index-of", "subsequence",
    "fn:subsequence", "reverse", "fn:reverse", "insert-before",
    "fn:insert-before", "remove", "fn:remove",
    "jn:members", "jn:keys", "jn:values",
    "jn:load", "jn:scan-path-index", "jn:scan-cas-index", "distinct-values",
    "jn:past", "jn:future", "jn:first", "jn:last", "jn:open", "jn:diff",
    "jn:open-revisions", "jn:valid-at", "jn:open-bitemporal",
    "sdb:item-history", "jn:scan-name-index", "jn:first-existing",
    "jn:last-existing", "jn:scan-cas-index-range",
    "jn:scan-valid-time-index", "jn:drop-database", "jn:drop-resource",
    "jn:select-json-item", "sdb:select-item", "sdb:level-order",
    "xml:store", "xml:doc", "xml:open", "xml:open-revisions", "xml:load",
    "xml:scan-path-index", "xml:scan-cas-index", "xml:scan-cas-index-range",
    "xml:scan-name-index", "xml:sort-by-doc-order", "xml:sort",
    "xml:import", "xml:diff")

  /** Does the expression read a table-scan source (size data-bound, so a
    * decorrelated side must NOT be broadcast-hinted)? */
  private def containsScanCall(e: Jsoniq.Expr): Boolean =
    Jsoniq.exprAny(e) {
      case Jsoniq.Call(n, _) => n.startsWith("jn:scan") ||
        n == "jn:all-times" || n == "jn:open-revisions"
      case _ => false
    }

  /** Side-effecting nodes a static hoist must never lift (the update is
    * applied per statement, jn:store commits a revision). */
  private def containsEffect(e: Jsoniq.Expr): Boolean =
    Jsoniq.exprAny(e) {
      case _: Jsoniq.UpdateStmt => true
      case Jsoniq.Call("jn:store" | "jn:load" | "jn:drop-database" |
        "jn:drop-resource" | "sdb:commit" | "xml:commit" | "xml:store" |
        "xml:load" | "xml:import" | "jn:create-cas-index" |
        "jn:create-path-index" | "jn:create-name-index" |
        "xml:create-cas-index" | "xml:create-path-index" |
        "xml:create-name-index" | "jn:create-valid-time-index" |
        "jn:create-projection-index", _) => true
      case _ => false
    }

  /** The (collection, doc, rev) of a literal `jn:doc` call — the shapes
    * the shredded member table can serve. */
  private def shreddedDocArgs(
      e: Jsoniq.Expr): Option[(String, String, Option[Int])] = e match {
    case Jsoniq.Call("jn:doc",
        Seq(Jsoniq.StrLit(c), Jsoniq.StrLit(d))) => Some((c, d, None))
    case Jsoniq.Call("jn:doc",
        Seq(Jsoniq.StrLit(c), Jsoniq.StrLit(d), Jsoniq.NumLit(t)))
        if !t.contains(".") => Some((c, d, Some(t.toInt)))
    case _ => None
  }

  /** Does `e` read a document served by a shredded member table? Such
    * expressions must stay ROW-wise and must NOT be hoisted/aggregated
    * into an in-row array — the member table can be arbitrarily large
    * (that's why it was shredded). */
  private def containsShreddedDoc(store: Store, e: Jsoniq.Expr,
                                  env: Map[String, Binding] = Map.empty)
      : Boolean =
    Jsoniq.exprAny(e) {
      case x if shreddedDocArgs(x).exists {
            case (c, d, r) => store.shredExists(c, d, r) } => true
      // a let-bound document handle ($auction := jn:doc(...)) carries
      // its static target — uses through the variable count too
      case Jsoniq.VarRef(n) => env.get(n) match {
        case Some(SeqVar(_, Some(st))) =>
          store.shredExists(st.collection, st.doc, None)
        case _ => false
      }
      case _ => false
    }

  /** Decompose a deref / child-step chain over a literal `jn:doc`
    * source: the document plus the steps above it, Left = object field
    * (JSON), Right = element name (XML child step). */
  private def docChain(e: Jsoniq.Expr, env: Map[String, Binding])
      : Option[((String, String, Option[Int]),
                List[Either[String, String]])] =
    shreddedDocArgs(e) match {
      case Some(dd) => Some((dd, Nil))
      case None => e match {
        case Jsoniq.VarRef(n) => env.get(n) match {
          // a let-bound static document handle: its own field steps
          // become leading chain steps ($auction := jn:doc(...))
          case Some(SeqVar(_, Some(st))) if st.steps.forall(_.isLeft) =>
            Some(((st.collection, st.doc, None),
              st.steps.collect { case Left(f) => Left(f) }))
          case _ => None
        }
        case Jsoniq.Deref(b, f) =>
          docChain(b, env).map { case (dd, st) => (dd, st :+ Left(f)) }
        case Jsoniq.ChildStep(b, n) =>
          docChain(b, env).map { case (dd, st) => (dd, st :+ Right(n)) }
        case _ => None
      }
    }

  /** The member table whose manifest path serves this chain. The
    * Boolean is PURE: the member rows ARE the expression's sequence
    * (false = a trailing element-name filter was applied, so member
    * indexes are not binding ordinals). */
  private def shreddedChainSource(store: Store, e: Jsoniq.Expr,
                                  env: Map[String, Binding])
      : Option[(DataFrame, Boolean)] =
    docChain(e, env).flatMap { case ((c, d, r), steps) =>
      val entries = store.shredEntries(c, d, r)
      if (entries.isEmpty) None
      else if (steps.forall(_.isLeft)) {
        val names = steps.collect { case Left(f) => f }
        entries.find(en => en.kind == "json" && en.steps == names)
          .map(en => (store.readShredEntry(c, d, r, en), true))
      } else if (steps.forall(_.isRight)) {
        // an element chain serves only in TRAILING-NAME form: the
        // manifest path names a parent whose CHILD LIST is the table,
        // and the last step filters those children by element name
        // ($doc/site/people/person over the [site, people] entry). A
        // chain equal to an entry denotes the parent element ITSELF —
        // not its children — and stays on the walk path.
        val names = steps.collect { case Right(n) => n }
        if (names.isEmpty) None
        else entries
          .find(en => en.kind == "xml" && en.steps == names.init)
          .map { en =>
            val df = store.readShredEntry(c, d, r, en)
            // typed tables carry the element name as a plain column —
            // the name filter then never decodes the variant (and
            // prunes to one parquet column for counts)
            val named =
              if (df.columns.contains("n")) df.filter(col("n") === names.last)
              else df.filter(
                schema_of_variant(col("member")).startsWith("OBJECT") &&
                  variant_get(col("member"), "$['~n']", "string")
                    === names.last)
            (named, false)
          }
      } else None
    }

  /** Shredded member tuples of a doc chain: one row per member,
    * POS = [0, idx] (the document's position level + one member level —
    * exactly the Unbox/itemize shape), ITEM = the member. The Boolean
    * is [[shreddedChainSource]]'s PURE flag. None when the resolved
    * revision has no shred serving the chain. */
  private def shreddedDocMembers(store: Store, e: Jsoniq.Expr,
                                 env: Map[String, Binding])
      : Option[(DataFrame, Boolean)] =
    shreddedChainSource(store, e, env).map { case (df, pure) =>
      (df.select(array(lit(0L), col("idx")).as(POS),
        col("member").as(ITEM)), pure)
    }

  /** Attach a distributed (POS, ITEM) source to the tuple stream. When
    * the stream IS the compile-time root frame (one row, only the order
    * column), skip the join entirely and stamp the literal ORD — saves
    * a broadcast stage per source. Otherwise cross-join with the tuples
    * broadcast (they are the driver-bounded small side). */
  private def attachToTuples(source: DataFrame, tuples: DataFrame,
                             env: Map[String, Binding]): DataFrame =
    if (tuples.columns.sameElements(Array(ORD)) &&
        staticCtxOf(env).exists(sc =>
          tuples.queryExecution.logical eq sc.base.queryExecution.logical))
      source.withColumn(ORD, array(lit(0L)))
    else if (env.contains(BIG))
      // a shred/scan source is bound upstream: the tuple stream is NOT
      // driver-bounded — leave join-side selection to the planner/AQE
      // instead of forcing a driver collect of an arbitrary stream
      source.crossJoin(tuples.drop(POS, ITEM))
    else source.crossJoin(broadcast(tuples.drop(POS, ITEM)))

  /** Compile `[?pred]` over a TYPED shredded document onto the shred's
    * plain parquet columns: derefs of the context item become `t.field`
    * references, so the filter pushes into the scan (PushedFilters,
    * column pruning — the direct-DataFrame plan). Returns the filtered
    * member tuples; None when there is no typed projection or the
    * predicate uses anything beyond field/literal comparisons+logic. */
  private def shreddedTypedFilter(store: Store, docE: Jsoniq.Expr,
                                  pred: Jsoniq.Expr,
                                  env: Map[String, Binding],
                                  ctxName: Option[String] = None)
      : Option[DataFrame] = {
    import Jsoniq._
    docChain(docE, env).flatMap { case ((c, d, r), steps) =>
      (if (steps.forall(_.isLeft))
         store.shredEntries(c, d, r).find(en => en.kind == "json" &&
           en.steps == steps.collect { case Left(f) => f })
           .map(store.readShredEntry(c, d, r, _))
       else None)
        .filter(_.columns.contains("t")).flatMap { df =>
        import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}
        val fieldType: Map[String, DataType] = df.schema("t").dataType match {
          case st: StructType => st.fields.collect {
            case f if (f.dataType match {
              case _: StructType | _: ArrayType | _: MapType => false
              case _ => true
            }) => f.name -> f.dataType
          }.toMap
          case _ => Map.empty
        }
        def fieldCol(x: Expr): Option[Column] = x match {
          // "$$" means the member only in [?pred] form (no ctxName);
          // under a for+where fusion it denotes the OUTER context item
          // — never the member's typed column
          case Deref(ContextItem, f)
              if ctxName.isEmpty && fieldType.contains(f) =>
            Some(col(s"t.`$f`"))
          case Deref(VarRef(n), f)
              if ctxName.contains(n) && fieldType.contains(f) =>
            Some(col(s"t.`$f`"))
          case _ => None
        }
        def stringFieldCol(x: Expr): Option[Column] = x match {
          case Deref(ContextItem, f)
              if ctxName.isEmpty && fieldType.get(f).contains(StringType) =>
            Some(col(s"t.`$f`"))
          case Deref(VarRef(n), f)
              if ctxName.contains(n) &&
                fieldType.get(f).contains(StringType) =>
            Some(col(s"t.`$f`"))
          case _ => None
        }
        def scalarT(x: Expr): Option[Column] = x match {
          case _ if fieldCol(x).isDefined => fieldCol(x)
          case NumLit(t) => Some(lit(BigDecimal(t).toDouble))
          case Unary("-", NumLit(t)) => Some(lit(-BigDecimal(t).toDouble))
          case StrLit(s) => Some(lit(s))
          case BoolLit(b) => Some(lit(b))
          // numeric arithmetic over compiled scalars, in double — the
          // SAME working type the comparison below uses on both paths
          // (cmpBoolAst double-casts literal comparisons), so typed and
          // variant answers agree. div/idiv/mod stay variant-only:
          // their zero-divisor semantics differ between double and the
          // exact arithCol branches.
          case Binary(op, a, b) if Set("+", "-", "*")(op) =>
            for (ac <- scalarT(a); bc <- scalarT(b)) yield op match {
              case "+" => ac.try_cast("double") + bc.try_cast("double")
              case "-" => ac.try_cast("double") - bc.try_cast("double")
              case _ => ac.try_cast("double") * bc.try_cast("double")
            }
          case _ => None
        }
        def go(x: Expr): Option[Column] = x match {
          case Binary("and", l, rr) =>
            for (a <- go(l); b <- go(rr))
              yield coalesce(a, lit(false)) && coalesce(b, lit(false))
          case Binary("or", l, rr) =>
            for (a <- go(l); b <- go(rr))
              yield coalesce(a, lit(false)) || coalesce(b, lit(false))
          case Call("not", Seq(a)) => go(a).map(v => !coalesce(v, lit(false)))
          // string predicates on STRING-typed columns — StringContains /
          // StringStartsWith / StringEndsWith push into the parquet scan
          case Call("contains" | "fn:contains", Seq(a, StrLit(s))) =>
            stringFieldCol(a).map(_.contains(lit(s)))
          case Call("starts-with" | "fn:starts-with", Seq(a, StrLit(s))) =>
            stringFieldCol(a).map(_.startsWith(lit(s)))
          case Call("ends-with" | "fn:ends-with", Seq(a, StrLit(s))) =>
            stringFieldCol(a).map(_.endsWith(lit(s)))
          case Binary(op, l, rr)
              if Set("eq", "ne", "lt", "le", "gt", "ge")(op) =>
            for (lc <- scalarT(l); rc <- scalarT(rr))
              yield cmpBoolAst(op, l, rr, lc, rc)
          case _ => None
        }
        // no null-coalesce around the condition: FilterExec drops null
        // rows itself, and a bare comparison reaches the parquet scan
        // as a pushed filter (coalesce would block pushdown)
        go(pred).map(cond => df.filter(cond)
          .select(array(lit(0L), col("idx")).as(POS),
            col("member").as(ITEM)))
      }
    }
  }

  /** Compile `[?pred]` over a TYPED XML member table (trailing-name
    * element chain, e.g. `$doc/site/people/person[?xs:integer(
    * $$/age/text()) ge 60]`) onto the shred's plain parquet columns:
    * the name filter runs on `n`, context-item child-text and
    * attribute steps become `t.field` / `t.@field` references — no
    * per-member variant decode. The xs numeric casts compile ONLY when
    * the column's sampled type already holds the cast's value space
    * (then the typed value IS the cast value: unparseable texts are
    * write-time nulls, matching the variant path's try_cast-null).
    * Returns the filtered member tuples; None when the table has no
    * typed projection or the predicate reaches beyond path/literal
    * comparisons + logic. */
  private def shreddedXmlTypedFilter(store: Store, chainE: Jsoniq.Expr,
                                     pred: Jsoniq.Expr,
                                     env: Map[String, Binding],
                                     ctxName: Option[String] = None)
      : Option[DataFrame] = {
    import Jsoniq._
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructType}
    docChain(chainE, env).flatMap { case ((c, d, r), steps) =>
      if (steps.isEmpty || !steps.forall(_.isRight)) None
      else {
        val names = steps.collect { case Right(n) => n }
        store.shredEntries(c, d, r)
          .find(en => en.kind == "xml" && en.steps == names.init)
          .map(store.readShredEntry(c, d, r, _))
          .filter(df => df.columns.contains("n") && df.columns.contains("t"))
          .flatMap { df =>
            val tTypes: Map[String, DataType] =
              df.schema("t").dataType match {
                case st: StructType =>
                  st.fields.map(f => f.name -> f.dataType).toMap
                case _ => Map.empty
              }
            def field(nm: String): Option[(Column, DataType)] =
              tTypes.get(nm).map(t => (col(s"t.`$nm`"), t))
            // the member reference: `$$` in [?pred] form, the bound
            // variable under a for+where fusion ($$ there denotes the
            // OUTER context item — same discipline as the JSON filter)
            def isCtx(x: Expr): Boolean = x match {
              case ContextItem => ctxName.isEmpty
              case VarRef(n) => ctxName.contains(n)
              case _ => false
            }
            def pathCol(x: Expr): Option[(Column, DataType)] = x match {
              case TextStep(ChildStep(root, nm)) if isCtx(root) => field(nm)
              case AttrStep(root, nm) if isCtx(root) => field("@" + nm)
              case _ => None
            }
            def numCol(x: Expr): Option[Column] = x match {
              case Call("xs:integer" | "xs:int" | "xs:long", Seq(p)) =>
                pathCol(p).collect { case (cc, LongType) => cc }
              case Call("xs:decimal" | "xs:double" | "xs:float" | "number"
                  | "fn:number", Seq(p)) =>
                pathCol(p).collect {
                  case (cc, LongType) => cc
                  case (cc, DoubleType) => cc
                }
              case p => pathCol(p).collect {
                case (cc, LongType) => cc
                case (cc, DoubleType) => cc
              }
            }
            def strCol(x: Expr): Option[Column] =
              pathCol(x).collect { case (cc, StringType) => cc }
            // numeric operand: a typed numeric column or a numeric
            // literal — a string literal in a numeric comparison (or
            // vice versa) DECLINES to the variant path, never a
            // cross-type Spark coercion the walk would answer
            // differently
            def numT(x: Expr): Option[Column] = x match {
              case NumLit(t) => Some(lit(BigDecimal(t).toDouble))
              case Unary("-", NumLit(t)) => Some(lit(-BigDecimal(t).toDouble))
              case other => numCol(other)
            }
            def go(x: Expr): Option[Column] = x match {
              case Binary("and", l, rr) =>
                for (a <- go(l); b <- go(rr))
                  yield coalesce(a, lit(false)) && coalesce(b, lit(false))
              case Binary("or", l, rr) =>
                for (a <- go(l); b <- go(rr))
                  yield coalesce(a, lit(false)) || coalesce(b, lit(false))
              case Call("not", Seq(a)) =>
                go(a).map(v => !coalesce(v, lit(false)))
              case Call("contains" | "fn:contains", Seq(a, StrLit(s))) =>
                strCol(a).map(_.contains(lit(s)))
              case Call("starts-with" | "fn:starts-with", Seq(a, StrLit(s))) =>
                strCol(a).map(_.startsWith(lit(s)))
              case Call("ends-with" | "fn:ends-with", Seq(a, StrLit(s))) =>
                strCol(a).map(_.endsWith(lit(s)))
              case Binary(op, l, rr)
                  if Set("eq", "ne", "lt", "le", "gt", "ge")(op) =>
                (l, rr) match {
                  case (_, StrLit(s)) =>
                    strCol(l).map(lc => cmpBool(op, lc, lit(s)))
                  case (StrLit(s), _) =>
                    strCol(rr).map(rc => cmpBool(op, lit(s), rc))
                  case _ =>
                    for (lc <- numT(l); rc <- numT(rr))
                      yield cmpBoolAst(op, l, rr, lc, rc)
                }
              case _ => None
            }
            go(pred).map { cond =>
              df.filter(col("n") === names.last && cond)
                .select(array(lit(0L), col("idx")).as(POS),
                  col("member").as(ITEM))
            }
          }
      }
    }
  }

  /** Does the expression walk documents / produce data-dependent
    * sequences — i.e. is it WORTH hoisting to the 1-row static frame
    * (literal-only arithmetic is already free pointwise)? */
  private def isDocWalk(e: Jsoniq.Expr): Boolean =
    Jsoniq.exprAny(e) {
      case _: Jsoniq.Deref | _: Jsoniq.ChildStep | _: Jsoniq.DescStep |
          _: Jsoniq.TextStep | _: Jsoniq.AttrStep |
          _: Jsoniq.DescendantDeref | _: Jsoniq.Unbox |
          _: Jsoniq.ArrayIndex | _: Jsoniq.ArraySlice |
          _: Jsoniq.FilterPred | _: Jsoniq.Flwor => true
      case Jsoniq.Call(n, _) => SeqFunctions(n)
      case _ => false
    }

  private def isXmlStep(e: Jsoniq.Expr): Boolean = e match {
    case Jsoniq.ChildStep(_, _) | Jsoniq.DescStep(_, _) |
        Jsoniq.TextStep(_) | Jsoniq.AttrStep(_, _) => true
    case _ => false
  }

  private def litStr(e: Jsoniq.Expr, what: String): String = e match {
    case Jsoniq.StrLit(s) => s
    case other =>
      throw new UnsupportedOperationException(s"$what must be a literal, got $other")
  }

  /** String or numeric literal, as raw text — CAS scan keys keep their
    * source image (a numeric image selects the typed comparison). */
  private def litRaw(e: Jsoniq.Expr, what: String): String = e match {
    case Jsoniq.StrLit(s) => s
    case Jsoniq.NumLit(t) => t
    case other => throw new UnsupportedOperationException(
      s"$what must be a literal, got $other")
  }

  private def litBool(e: Jsoniq.Expr, what: String): Boolean = e match {
    case Jsoniq.BoolLit(b) => b
    case Jsoniq.Call("true", Seq()) => true
    case Jsoniq.Call("false", Seq()) => false
    case other => throw new UnsupportedOperationException(
      s"$what must be a boolean literal, got $other")
  }

  private def evalCallSeq(store: Store, name: String, args: Seq[Jsoniq.Expr],
                          tuples: DataFrame,
                          env: Map[String, Binding]): DataFrame = {
    import Jsoniq._
    name match {
      case "jn:store" =>
        // 3-arg form stores; the reference's extended forms
        // (function/jn/io/Store.java:99) add $createNew (accepted — this
        // engine's store always commits a revision) and an $options
        // object whose validFromPath/validToPath pair persists the
        // resource's valid-time configuration
        // (StoreValidTimeAutoIndexTest.java:96).
        require(args.size >= 3 && args.size <= 5,
          "jn:store(collection, doc, json[, createNew[, options]])")
        val (c0, d0) =
          (litStr(args(0), "collection"), litStr(args(1), "doc"))
        args.lift(3).foreach(litBool(_, "createNew")) // validated, unused
        args.lift(4).foreach {
          case ObjectCtor(entries) =>
            val opts = entries.collect {
              case Right((k, StrLit(v))) => k -> v
            }.toMap
            (opts.get("validFromPath"), opts.get("validToPath")) match {
              case (Some(f), Some(t)) => store.setValidTimeConfig(c0, d0, f, t)
              case (None, None) => ()
              case _ => throw new IllegalArgumentException(
                "jn:store options: validFromPath and validToPath must be " +
                  "provided together")
            }
          case other => throw new UnsupportedOperationException(
            s"jn:store options must be an object literal, got $other")
        }
        store.store(c0, d0, litStr(args(2), "json"))
        tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, vnull)
          .filter(lit(false)) // empty result sequence
      case "xml:store" =>
        // textual XML store (reference function/xml/io/Store.java): the
        // document lands in the [[XmlItem]] encoding with member-span
        // shredding, exactly the library storeXml path
        require(args.size >= 3 && args.size <= 4,
          "xml:store(collection, doc, xml[, createNew])")
        args.lift(3).foreach(litBool(_, "createNew")) // validated, unused
        store.storeXml(litStr(args(0), "collection"), litStr(args(1), "doc"),
          litStr(args(2), "xml"))
        tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, vnull)
          .filter(lit(false))
      case "xml:doc" =>
        // stored XML resources hold their item-model encoding as the
        // document text — the read IS jn:doc (reference function/xml/
        // io/Doc.java over the shared resource layer)
        evalCallSeq(store, "jn:doc", args, tuples, env)
      case "xml:open" | "xml:open-revisions" =>
        // point-in-time / interval reads over XML resources share the
        // commit-log machinery (reference function/xml/io/
        // DocByPointInTime.java, OpenRevisions.java)
        evalCallSeq(store, "jn:" + name.stripPrefix("xml:"), args,
          tuples, env)
      case "xml:load" =>
        // file ingestion of an XML document (reference function/xml/io/
        // Load.java): the jn:load read discipline, the storeXml commit
        require(args.size == 3, "xml:load(collection, doc, uri)")
        val uri = litStr(args(2), "uri")
        val p = if (uri.startsWith("file:"))
          java.nio.file.Paths.get(java.net.URI.create(uri))
        else java.nio.file.Paths.get(uri)
        val xml = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .stripPrefix("\uFEFF")
        store.storeXml(litStr(args(0), "collection"),
          litStr(args(1), "doc"), xml)
        tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, vnull)
          .filter(lit(false))
      case "jn:doc" =>
        require(args.size == 2 || args.size == 3, "jn:doc(collection, doc[, rev])")
        val rev = args.lift(2).map {
          case NumLit(t) => t.toInt
          case other =>
            throw new UnsupportedOperationException(s"revision literal, got $other")
        }
        val doc = store.doc(litStr(args(0), "collection"), litStr(args(1), "doc"), rev)
        tuples.crossJoin(broadcast(
            doc.select(parse_json(col("doc_json")).as(ITEM))))
          .withColumn(POS, array(lit(0L)))
      case "jn:select-json-item" | "sdb:select-item" =>
        // node selection by node key (reference function/jn/trx/
        // SelectJsonItem.java:49 — moveTo(nodeKey) then the item
        // factory's VALUE view, so a fused object-field key serves the
        // field's value; sdb/trx/SelectItem.java is the sdb alias).
        // Resolution: the revision's key tree maps the key to its
        // concrete pointer, then the value serves through the normal
        // deref/index chain (shred fast paths included) — the document
        // never collects for the selection itself.
        val (c, d, rev, _, ptr, _) = selectItemResolve(store, name, args)
        // the pointer is CONCRETE (no deref-over-array mapping), so a
        // pointer crossing a shredded entry serves from ONE member row
        // regardless of identity mode — the reference's moveTo never
        // materializes the document
        shreddedMemberRead(store, c, d, rev, ptr) match {
          case Some((row, mcol, rest)) =>
            val v = gensym("si")
            val rebuilt = rest.foldLeft(VarRef(v): Expr) {
              case (e2, Left(f)) => Deref(e2, f)
              case (e2, Right(i)) => ArrayIndex(e2, NumLit(i.toString))
            }
            evalSeq(store, rebuilt,
              tuples.drop(POS, ITEM).crossJoin(broadcast(row)),
              env + (v -> ItemVar(mcol)))
          case None =>
            val docE: Expr = Call("jn:doc",
              Seq(StrLit(c), StrLit(d)) ++ rev.map(r => NumLit(r.toString)))
            evalSeq(store, ptr.foldLeft(docE) {
              case (e2, Left(f)) => Deref(e2, f)
              case (e2, Right(i)) => ArrayIndex(e2, NumLit(i.toString))
            }, tuples, env)
        }
      case "sdb:level-order" =>
        // breadth-first subtree traversal (reference sdb/trx/
        // LevelOrder.java over axis/LevelOrderAxis.java — excludes
        // self, optional max depth; each visited node serves its
        // VALUE view under the fused model). The walk evaluates where
        // the item row lives ([[JsonLevelOrder]]), never on the driver.
        require(args.nonEmpty && args.size <= 2,
          "sdb:level-order(node[, depth])")
        val depth = args.lift(1).map {
          case NumLit(t) if !t.contains(".") => t.toInt
          case other => throw new UnsupportedOperationException(
            s"sdb:level-order depth literal, got $other")
        }.getOrElse(Int.MaxValue)
        val s = evalSeq(store, args.head, tuples, env)
        val loCap = store.spark.conf
          .getOption("spark.graft.levelOrder.maxBytes").map(_.toLong)
          .getOrElse(JsonLevelOrder.DefaultMaxBytes)
        val lo = org.apache.spark.sql.graftbridge.GraftBridge.column(
          JsonLevelOrder(org.apache.spark.sql.graftbridge.GraftBridge
            .expression(to_json(col(ITEM))), depth, loCap))
        val keep = s.columns.filter(c => c != ITEM && c != POS).map(col)
        s.select(keep :+ col(POS) :+
            posexplode(lo).as(Seq("__p0", "__lo")): _*)
          .withColumn(ITEM, parse_json(col("__lo"))).drop("__lo")
          .withColumn(POS, concat(col(POS), array(col("__p0").cast("long"))))
          .drop("__p0")
      case "jn:past" | "jn:future" | "jn:first" | "jn:last" |
          "jn:first-existing" | "jn:last-existing" =>
        // the reference's revision axes (function/jn/JNFun.java:95-105 —
        // PastFun/FutureFun/FirstFun/LastFun and FirstExisting.java /
        // LastExisting.java): the node's content at revisions
        // before/after its own, or at the first/last revision where it
        // EXISTS. Same per-revision stash discipline as jn:all-times,
        // sliced on the revision axis (the slice runs over the node's
        // EXISTING revisions, so first/first-existing coincide — the
        // reference's First also serves the node where it lives).
        require(args.nonEmpty && args.size <= 2, s"$name(node[, includeSelf])")
        var argRev: Option[Int] = None
        def stripRev(x: Expr): Expr = x match {
          case Call("jn:doc", Seq(c: StrLit, d: StrLit, NumLit(t)))
              if !t.contains(".") =>
            argRev = Some(t.toInt); Call("jn:doc", Seq(c, d))
          case other => Jsoniq.mapChildren(other)(stripRev)
        }
        val stripped = stripRev(args.head)
        val target = JsoniqUpdate.staticTargetIn(stripped, env)
          .getOrElse(throw new UnsupportedOperationException(
            s"$name needs a static document path, got ${args.head}"))
        val includeSelf = args.lift(1).exists(litBool(_, s"$name includeSelf"))
        val nodeRev = argRev.orElse(graft.sources.TemporalTable
            .mostRecentRevision(store.docPath(target.collection, target.doc)))
          .getOrElse(throw new IllegalArgumentException(
            s"no revisions for ${target.collection}/${target.doc}"))
        val slice: Seq[Int] => Seq[Int] = name match {
          case "jn:past" =>
            _.filter(r => r < nodeRev || (includeSelf && r == nodeRev))
          case "jn:future" =>
            _.filter(r => r > nodeRev || (includeSelf && r == nodeRev))
          case "jn:first" | "jn:first-existing" => _.take(1)
          case _ => _.takeRight(1)
        }
        allTimesAt(store, tuples, target, slice,
          newestFirst = name == "jn:past")
      case "jn:open" =>
        // document as of a timestamp (reference function/jn/JNFun.java's
        // OpenFun): the commit-log as-of read
        require(args.size == 3, "jn:open(collection, doc, timestamp)")
        val ts = java.time.Instant.parse(litStr(args(2), "timestamp"))
          .toEpochMilli
        val (oc, od) = (litStr(args(0), "collection"), litStr(args(1), "doc"))
        // resolve the as-of revision FIRST (last commit <= ts — the
        // TemporalTable.read rule), then read through the marker-aware
        // doc path: a member-local fast commit's row is a sentinel the
        // raw snapshot read must never parse as content
        val log = graft.sources.TemporalTable.commits(store.docPath(oc, od))
          .filter(_.commitTsMs <= ts)
        require(log.nonEmpty, s"no revision at or before ts=$ts")
        val doc = store.doc(oc, od, Some(log.last.revision))
          .select(parse_json(col("doc_json")).as(ITEM))
        tuples.crossJoin(broadcast(doc)).withColumn(POS, array(lit(0L)))
      case "jn:open-revisions" =>
        // every revision committed inside [t1, t2], in revision order
        // (reference function/jn/io/OpenRevisions.java:21) — one item
        // per revision with the revision stashed (sdb:revision)
        require(args.size == 4, "jn:open-revisions(collection, doc, t1, t2)")
        val (t1, t2) = (
          java.time.Instant.parse(litStr(args(2), "t1")).toEpochMilli,
          java.time.Instant.parse(litStr(args(3), "t2")).toEpochMilli)
        val path = store.docPath(litStr(args(0), "collection"),
          litStr(args(1), "doc"))
        import store.spark.implicits._
        val rows = graft.sources.TemporalTable.commits(path)
          .filter(c => c.commitTsMs >= t1 && c.commitTsMs <= t2)
          .map { c =>
            val json = store.doc(litStr(args(0), "collection"),
              litStr(args(1), "doc"), Some(c.revision))
              .collect().head.getString(0)
            (c.revision.toLong, json)
          }
        val df = rows.toDF("__srev", "__mj")
          .select(array(col("__srev")).as(POS),
            parse_json(col("__mj")).as(ITEM), col("__srev"))
        tuples.crossJoin(broadcast(df))
      case "jn:diff" =>
        // update script between two revisions (reference
        // function/jn/diff/Diff.java:71 emits a JSON script of
        // insert/replace/delete operations; ours keys operations by
        // PATH instead of sirix nodekeys — the engine addresses nodes
        // structurally). One string item.
        require(args.size == 4, "jn:diff(collection, doc, rev1, rev2)")
        val (c, d) = (litStr(args(0), "collection"), litStr(args(1), "doc"))
        def litRev(e2: Expr): Int = e2 match {
          case NumLit(t) if !t.contains(".") => t.toInt
          case other => throw new UnsupportedOperationException(
            s"jn:diff revision literal expected, got $other")
        }
        val (r1, r2) = (litRev(args(2)), litRev(args(3)))
        val oldJ = store.doc(c, d, Some(r1)).collect().head.getString(0)
        val newJ = store.doc(c, d, Some(r2)).collect().head.getString(0)
        val script = jsonDiffScript(c, d, r1, r2, oldJ, newJ)
        tuples.crossJoin(broadcast(store.spark.range(1)
            .select(jsonString(lit(script)).as(ITEM))))
          .withColumn(POS, array(lit(0L)))
      case "xml:diff" =>
        // update script between two XML revisions (reference
        // function/xml/diff/Diff.java builds an XQuery Update script
        // keyed by sirix node keys; here the FMSE engine
        // ([[graft.operators.TreeMatch]]) matches the two revisions
        // keylessly and the script keys operations by the engine's
        // document-order node keys — same select-item addressing
        // shape, documented key-space divergence). One string item.
        require(args.size == 4, "xml:diff(collection, resource, rev1, rev2)")
        val (c, d) = (litStr(args(0), "collection"), litStr(args(1), "resource"))
        def litRevX(e2: Expr): Int = e2 match {
          case NumLit(t) if !t.contains(".") => t.toInt
          case other => throw new UnsupportedOperationException(
            s"xml:diff revision literal expected, got $other")
        }
        val (r1, r2) = (litRevX(args(2)), litRevX(args(3)))
        val script = xmlDiffScript(store, c, d, r1, r2)
        tuples.crossJoin(broadcast(store.spark.range(1)
            .select(jsonString(lit(script)).as(ITEM))))
          .withColumn(POS, array(lit(0L)))
      case "xml:import" =>
        // import a NEW VERSION of a stored XML resource (reference
        // function/xml/io/Import.java: FMSE-diff the head against the
        // imported document, commit the matched changes as a new
        // revision). The engine commits the imported content as the
        // new revision after validating the FMSE match (roots pair,
        // mapping is 1-1) — node addressing stays structural. Returns
        // the imported document node.
        require(args.size == 3, "xml:import(collection, resource, uri)")
        val (c, d) = (litStr(args(0), "collection"), litStr(args(1), "resource"))
        val uri = litStr(args(2), "uri")
        val newXml = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(uri)),
          java.nio.charset.StandardCharsets.UTF_8)
        require(graft.sources.TemporalTable
            .mostRecentRevision(store.docPath(c, d)).isDefined,
          s"xml:import: no stored revisions for $c/$d to import against")
        // FMSE validation: the head and the import must match as trees
        // (a degenerate match means the import is a different document)
        xmlFmseMatch(store, c, d, newXml)
        val enc = store.storeXml(c, d, newXml)
        tuples.crossJoin(broadcast(store.spark.range(1)
            .select(parse_json(lit(enc)).as(ITEM))))
          .withColumn(POS, array(lit(0L)))
      case "jn:all-times" =>
        // every committed revision's root, ordered by revision — the
        // reference's time axis iteration (jn:all-times). The argument
        // must be a jn:doc call (the axis is per document, not per node).
        // static document path → the node's content at EVERY committed
        // revision (ordered), each row stashing its revision and the
        // PREVIOUS revision's content so jn:previous / sdb:hash
        // change-detection answers per node
        val target = JsoniqUpdate.staticTargetIn(args.head, env)
          .getOrElse(throw new UnsupportedOperationException(
            s"jn:all-times needs a static document path, got ${args.head}"))
        allTimesAt(store, tuples, target)
      case "sdb:item-history" =>
        // the node at every revision where it CHANGED, ascending —
        // reference function/sdb/trx/ItemHistory.java:40 (its first
        // existence counts; unchanged revisions are skipped)
        require(args.size == 1, "sdb:item-history(node)")
        val target = JsoniqUpdate.staticTargetIn(args.head, env)
          .getOrElse(throw new UnsupportedOperationException(
            s"sdb:item-history needs a static document path, got ${args.head}"))
        allTimesAt(store, tuples, target, changedOnly = true)
      case "jn:valid-at" | "jn:open-bitemporal" =>
        // bitemporal valid-axis stab (reference function/jn/temporal/
        // ValidAt.java:45, OpenBitemporal.java:53): the document — at
        // head for valid-at, as-of the transaction timestamp for
        // open-bitemporal — plus its array members, restricted to OBJECT
        // items whose CLOSED valid interval contains the instant. A
        // null bound (absent OR unparseable) is unbounded on that side,
        // and a record whose bounds are BOTH null is not registered on
        // the valid axis — exactly the reference predicate's arms
        // (ValidTimeIndexScan.isValidAtTime: parseInstant returns null
        // for unparseable values before the both-null registration
        // check, so {"validFrom":"junk"} alone is unregistered there
        // too). The interval fields come from the RESOURCE's persisted
        // valid-time configuration when one exists (the reference's
        // validTimePaths — ValidAt.java:45 reads resource config), else
        // default to validFrom/validTo; two extra literal arguments
        // override per call.
        val isBi = name == "jn:open-bitemporal"
        val nFixed = if (isBi) 4 else 3
        require(args.size >= nFixed && args.size <= nFixed + 2,
          s"$name(collection, resource, " +
            (if (isBi) "txTime, " else "") +
            "validTime[, validFromField, validToField])")
        def tsLit(e: Expr, what: String): String = e match {
          case StrLit(s) => s
          case Call("xs:dateTime", Seq(StrLit(s))) => s
          case other => throw new UnsupportedOperationException(
            s"$name $what must be an xs:dateTime literal, got $other")
        }
        val validTs = tsLit(args(nFixed - 1), "validTime")
        val cfg = store.validTimeConfig(litStr(args(0), "collection"),
          litStr(args(1), "resource"))
        val fromF = args.lift(nFixed).map(litStr(_, "validFromField"))
          .orElse(cfg.map(_._1)).getOrElse("validFrom")
        val toF = args.lift(nFixed + 1).map(litStr(_, "validToField"))
          .orElse(cfg.map(_._2)).getOrElse("validTo")
        val docE: Expr =
          if (isBi) Call("jn:open",
            Seq(args(0), args(1), StrLit(tsLit(args(2), "txTime"))))
          else Call("jn:doc", Seq(args(0), args(1)))
        validStab(store, tuples, env, docE, validTs, fromF, toF)
      case "jn:scan-valid-time-index" =>
        // valid-time interval-index stab (reference function/jn/index/
        // scan/ScanValidTimeIndex.java:49): every record OBJECT whose
        // closed [validFrom, validTo] interval contains the instant —
        // the identical set to jn:valid-at (the reference's
        // ValidTimeFilter fallback runs the same predicate, and "all
        // three paths return the identical set"); the interval fields
        // MUST come from the resource's valid-time configuration (the
        // reference throws without one).
        require(args.size == 2, "jn:scan-valid-time-index(doc, validTime)")
        val (c, d) = resolveDocArg(args.head, env)
        val (fromF, toF) = store.validTimeConfig(c, d).getOrElse(
          throw new IllegalArgumentException(
            "jn:scan-valid-time-index: resource has no valid time " +
              "configuration — store with {\"validFromPath\": ..., " +
              "\"validToPath\": ...} options"))
        val validTs = args(1) match {
          case StrLit(s) => s
          case Call("xs:dateTime", Seq(StrLit(s))) => s
          case other => throw new UnsupportedOperationException(
            s"$name validTime must be an xs:dateTime literal, got $other")
        }
        validStab(store, tuples, env,
          Call("jn:doc", Seq(StrLit(c), StrLit(d))), validTs, fromF, toF)
      case "distinct-values" =>
        // first occurrence of each distinct value, in sequence order
        val s = evalSeq(store, args.head, tuples, env)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(ORD), to_json(col(ITEM))).orderBy(col(POS))
        s.withColumn("__dvr", row_number().over(w))
          .filter(col("__dvr") === 1)
          .drop("__dvr")

      // ---- F&O sequence functions (brackit's library in the
      // reference; pinned by JsonQueryCorrectnessSweepTest) ----
      case "tokenize" | "fn:tokenize" =>
        // regex split KEEPING trailing empty tokens (the -1 limit)
        require(args.size == 2, "tokenize(s, pattern)")
        val sv = gensym("tok")
        val f1 = evalScalar(store, args.head, tuples, env)
          .withColumnRenamed("__v", sv)
        val f2 = evalScalar(store, args(1), f1, env)
        val toks = expr(
          s"split(cast($sv as string), cast(__v as string), -1)")
        f2.select(f2.columns.map(col) :+
            posexplode(when(col(sv).isNull, expr("array()"))
              .otherwise(toks)).as(Seq("__p0", "__tk")): _*)
          .withColumn(POS, array(col("__p0").cast("long")))
          .withColumn(ITEM, jsonString(col("__tk")))
          .drop("__p0", "__tk", "__v", sv)
      case "index-of" | "fn:index-of" =>
        // all 1-based positions of items equal to the search value
        require(args.size == 2, "index-of(seq, item)")
        val nv = gensym("iof")
        val frame = evalScalar(store, args(1), tuples, env)
          .withColumnRenamed("__v", nv)
        val s = evalSeq(store, args.head, frame, env)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(ORD)).orderBy(col(POS))
        val a = atomizeCol(col(ITEM)); val b = atomizeCol(col(nv))
        def isNum(c: Column) =
          schema_of_variant(c).isin((IntSchemas :+ "DOUBLE" :+ "FLOAT"): _*) ||
            schema_of_variant(c).startsWith("DECIMAL")
        val eqc = when(isNum(a) && isNum(b),
          a.try_cast("double") === b.try_cast("double"))
          .otherwise(to_json(a) === to_json(b))
        s.withColumn("__ixr", row_number().over(w))
          .filter(coalesce(eqc, lit(false)))
          .withColumn(POS, array(col("__ixr").cast("long")))
          .withColumn(ITEM, jsonNumber(col("__ixr").cast("long")))
          .drop("__ixr", nv)
      case "subsequence" | "fn:subsequence" =>
        // fn:subsequence: positions p with p >= round(start) and
        // (3-arg) p < round(start) + round(len)
        require(args.size == 2 || args.size == 3,
          "subsequence(seq, start[, len])")
        val stv = gensym("ssq")
        var frame = evalScalar(store, args(1), tuples, env)
          .withColumnRenamed("__v", stv)
        val lenv = gensym("ssl")
        val hasLen = args.size == 3
        if (hasLen) frame = evalScalar(store, args(2), frame, env)
          .withColumnRenamed("__v", lenv)
        val s = evalSeq(store, args.head, frame, env)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(ORD)).orderBy(col(POS))
        val rs = floor(col(stv).try_cast("double") + 0.5)
        val keepLo = col("__ssr") >= rs
        val keep = if (hasLen)
          keepLo && col("__ssr") <
            rs + floor(col(lenv).try_cast("double") + 0.5)
        else keepLo
        s.withColumn("__ssr", row_number().over(w).cast("double"))
          .filter(keep)
          .drop((Seq("__ssr", stv) ++ (if (hasLen) Seq(lenv) else Nil)): _*)
      case "reverse" | "fn:reverse" =>
        require(args.size == 1, "reverse(seq)")
        val s = evalSeq(store, args.head, tuples, env)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(ORD)).orderBy(col(POS))
        s.withColumn(POS, array(-row_number().over(w).cast("long")))
      case "insert-before" | "fn:insert-before" =>
        // fn:insert-before: position clamps to [1, size+1]
        require(args.size == 3, "insert-before(target, pos, inserts)")
        val pv = gensym("ibp")
        val frame = evalScalar(store, args(1), tuples, env)
          .withColumnRenamed("__v", pv)
        val shape = (frame.columns :+ POS :+ ITEM).map(col)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(ORD)).orderBy(col(POS))
        val n = greatest(floor(col(pv).try_cast("double") + 0.5), lit(1.0))
        val target = evalSeq(store, args.head, frame, env)
          .withColumn("__ibr", row_number().over(w).cast("double"))
          .withColumn(POS, array(
            when(col("__ibr") < n, lit(0L)).otherwise(lit(2L)),
            col("__ibr").cast("long")))
          .select(shape: _*)
        val ins = evalSeq(store, args(2), frame, env)
          .withColumn(POS, concat(array(lit(1L)), col(POS)))
          .select(shape: _*)
        target.unionByName(ins).drop(pv)
      case "remove" | "fn:remove" =>
        // fn:remove: drop the item at the 1-based position (out of
        // range = identity)
        require(args.size == 2, "remove(seq, pos)")
        val pv = gensym("rmp")
        val frame = evalScalar(store, args(1), tuples, env)
          .withColumnRenamed("__v", pv)
        val s = evalSeq(store, args.head, frame, env)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(ORD)).orderBy(col(POS))
        s.withColumn("__rmr", row_number().over(w).cast("double"))
          .filter(col("__rmr") =!=
            floor(col(pv).try_cast("double") + 0.5))
          .drop("__rmr", pv)
      case "jn:members" =>
        // array members as a sequence (reference brackit JSONFun's
        // members — the `E[]` unbox postfix's named twin)
        require(args.size == 1, "jn:members(array)")
        evalSeq(store, Jsoniq.Unbox(args.head), tuples, env)
      case "jn:keys" | "jn:values" =>
        // object member keys / values in INSERTION order (reference
        // brackit JSONFun via JNFun.java iterates members as written);
        // jn:keys dedupes across the input sequence (first occurrence).
        // The variant encoding key-sorts at parse, so order comes from
        // the items' ORIGINAL text when the argument is a doc-rooted
        // chain ([[rawEntrySeq]]); items with no source text
        // (constructed objects, function results) keep the documented
        // canonical-order fallback.
        require(args.size == 1, s"$name(objects)")
        val wantValues = name == "jn:values"
        val gb = org.apache.spark.sql.graftbridge.GraftBridge
        rawEntrySeq(store, args.head, env, wantValues) match {
          case Some(rawDf) =>
            val frame = tuples.drop(POS, ITEM).crossJoin(rawDf)
            val entries = gb.column(JsonObjectShallow(
              gb.expression(col("__rawitem")), wantValues))
            val exploded = frame
              .select(frame.columns.map(col) :+
                posexplode(entries).as(Seq("__pent", "__ent")): _*)
              .withColumn(POS,
                array(col("__p0"), col("__pent").cast("long")))
              .withColumn(ITEM,
                if (wantValues) parse_json(col("__ent"))
                else jsonString(col("__ent")))
              .drop("__p0", "__pent", "__ent", "__rawitem")
            if (wantValues) exploded
            else {
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col(ORD), to_json(col(ITEM))).orderBy(col(POS))
              exploded.withColumn("__dkr", row_number().over(w))
                .filter(col("__dkr") === 1)
                .drop("__dkr")
            }
          case None =>
            val s = evalSeq(store, args.head, tuples, env)
            val entries = gb.column(JsonObjectShallow(
              gb.expression(to_json(col(ITEM))), wantValues))
            val exploded = s
              .select(s.columns.map(col) :+
                posexplode(entries).as(Seq("__p0", "__ent")): _*)
              .withColumn(POS,
                concat(col(POS), array(col("__p0").cast("long"))))
              .withColumn(ITEM,
                if (wantValues) parse_json(col("__ent"))
                else jsonString(col("__ent")))
              .drop("__p0", "__ent")
            if (wantValues) exploded
            else {
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col(ORD), to_json(col(ITEM))).orderBy(col(POS))
              exploded.withColumn("__dkr", row_number().over(w))
                .filter(col("__dkr") === 1)
                .drop("__dkr")
            }
        }
      case "jn:load" =>
        // file ingestion (reference function/jn/io/Load.java): read the
        // document text from the (file:) URI and commit it — reads stay
        // revision-addressable exactly like jn:store
        require(args.size == 3, "jn:load(collection, doc, uri)")
        val uri = litStr(args(2), "uri")
        val p = if (uri.startsWith("file:"))
          java.nio.file.Paths.get(java.net.URI.create(uri))
        else java.nio.file.Paths.get(uri)
        // a UTF-8 BOM is not JSON (parse_json rejects it) — strip
        val json = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .stripPrefix("\uFEFF")
        store.store(litStr(args(0), "collection"), litStr(args(1), "doc"), json)
        tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, vnull)
          .filter(lit(false))
      case "jn:drop-database" | "jn:drop-resource" =>
        // catalog drops (reference jn/io/DropDatabase.java,
        // DropResource.java): recursive delete, empty sequence result;
        // a missing target fails loudly like the reference's null lookup
        if (name == "jn:drop-database") {
          require(args.size == 1, "jn:drop-database(name)")
          store.dropDatabase(litStr(args(0), "name"))
        } else {
          require(args.size == 2, "jn:drop-resource(collection, resource)")
          store.dropResource(litStr(args(0), "collection"),
            litStr(args(1), "resource"))
        }
        tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, vnull)
          .filter(lit(false))
      case "jn:scan-path-index" =>
        // nodes whose sirix path matches the pattern, in document order
        // (reference jn:scan-path-index; shredded documents serve the
        // member-table part DISTRIBUTED — docScanSeq)
        require(args.size == 3, "jn:scan-path-index(doc, idx, path)")
        val (c, d) = resolveDocArg(args.head, env)
        requireScanHandle(store, c, d, args(1), "path")
        // an empty path scans the NAMED index's declared classes, like
        // the CAS forms (the reference's $paths is zero-or-one)
        val patterns = args(2) match {
          case SeqCtor(Seq()) =>
            store.indexDefs(c, d).filter(_.kind == "path") match {
              case Seq(one) => Some(one.paths.toSeq).filter(_.nonEmpty)
              case Seq() => None
              case many => args(1) match {
                case NumLit(t) if !t.contains(".") =>
                  many.find(_.no == t.toInt).map(_.paths.toSeq)
                    .filter(_.nonEmpty)
                case _ => throw new UnsupportedOperationException(
                  "path scan with empty $paths over several registered " +
                    "path indexes needs a literal index number")
              }
            }
          case other => Some(litStr(other, "path").split(";").toSeq)
        }
        docScanSeq(store, tuples, c, d, JsonPath.PathScan(patterns),
          needsIdentity(env))
      case "jn:scan-name-index" =>
        // every object key matching one of the ';'-separated names
        // (empty sequence = every key), document order — reference
        // function/jn/index/scan/ScanNameIndex.java:38. One documented
        // deviation: each hit prints its OWN concrete path; the
        // reference's pinned output shows same-name key nodes sharing a
        // path-summary entry (another occurrence's path), an artifact
        // of its node store with no analog in the value model.
        require(args.size == 3, "jn:scan-name-index(doc, idx, names)")
        val (c, d) = resolveDocArg(args.head, env)
        requireScanHandle(store, c, d, args(1), "name")
        val names = args(2) match {
          case SeqCtor(Seq()) => None
          case other => Some(litStr(other, "names").split(";").toSet)
        }
        docScanSeq(store, tuples, c, d, JsonPath.NameScan(names),
          needsIdentity(env))
      case "jn:scan-cas-index" =>
        // typed-value scan: nodes at the path whose SCALAR value
        // satisfies the comparison (reference jn:scan-cas-index)
        require(args.size == 5, "jn:scan-cas-index(doc, idx, value, op, path)")
        val (c, d) = resolveDocArg(args.head, env)
        requireScanHandle(store, c, d, args(1), "cas")
        val value = litRaw(args(2), "value")
        val op = litStr(args(3), "op")
        // an empty-sequence path scans the classes the NAMED index
        // covers (its registered definition), never every class
        val patterns = args(4) match {
          case SeqCtor(Seq()) => casIndexPaths(store, c, d, args(1))
          case other => Some(litStr(other, "path").split(";").toSeq)
        }
        docScanSeq(store, tuples, c, d,
          JsonPath.CasScan(patterns, JsonPath.CmpOp(op, value)),
          needsIdentity(env))
      case "jn:scan-cas-index-range" =>
        // typed-value RANGE scan (reference function/jn/index/scan/
        // ScanCASIndexRange.java:39): scalar values inside
        // (low, high) with per-bound inclusivity. Bounds cast to the
        // index's content type in the reference (Cast.cast at :84) —
        // here NUMERIC bounds compare numerically (values that do not
        // parse are not in a numeric index: xs:decimal indexing skips
        // uncastable values), string bounds lexicographically. An
        // empty-sequence $paths scans the index's own declared paths
        // (the registry definition), falling back to every class.
        require(args.size == 7, "jn:scan-cas-index-range(doc, idx, " +
          "low, high, includeLow, includeHigh, paths)")
        val (c, d) = resolveDocArg(args.head, env)
        requireScanHandle(store, c, d, args(1), "cas")
        val low = litRaw(args(2), "low")
        val high = litRaw(args(3), "high")
        val incLow = litBool(args(4), "includeLow")
        val incHigh = litBool(args(5), "includeHigh")
        val patterns: Option[Seq[String]] = args(6) match {
          case SeqCtor(Seq()) => casIndexPaths(store, c, d, args(1))
          case other => Some(litStr(other, "paths").split(";").toSeq)
        }
        docScanSeq(store, tuples, c, d, JsonPath.CasScan(patterns,
          JsonPath.CmpRange(low, high, incLow, incHigh)),
          needsIdentity(env))
      case "xml:scan-cas-index" =>
        // typed-value scan over a stored XML resource (reference
        // function/xml/index/scan/ScanCASIndex.java): hits are the
        // matching TEXT/attribute VALUES in document order. Accepts
        // the jn-style 5-arg form and the reference signature's 6-arg
        // form with $include-self — a boolean third argument shifts
        // mode/paths right by one (the reference's execute() ignores
        // include-self; so does this engine)
        require(args.size == 5 || args.size == 6,
          "xml:scan-cas-index(doc, idx, key[, includeSelf], mode, paths)")
        val (c, d) = resolveDocArg(args.head, env)
        requireScanHandle(store, c, d, args(1), "cas")
        val refStyle = args.size == 6
        val value = litRaw(args(2), "key")
        val op = litStr(args(if (refStyle) 4 else 3), "mode")
        val patterns = args(if (refStyle) 5 else 4) match {
          case SeqCtor(Seq()) => casIndexPaths(store, c, d, args(1))
          case other2 => Some(litStr(other2, "paths").split(";").toSeq)
        }
        xmlScanSeq(store, tuples, c, d, patterns.map(_.map(XmlScan.parse)),
          XmlScan.XCas(JsonPath.CmpOp(op, value)))
      case "xml:scan-cas-index-range" =>
        require(args.size == 7, "xml:scan-cas-index-range(doc, idx, " +
          "low, high, includeLow, includeHigh, paths)")
        val (c, d) = resolveDocArg(args.head, env)
        requireScanHandle(store, c, d, args(1), "cas")
        val low = litRaw(args(2), "low")
        val high = litRaw(args(3), "high")
        val incLow = litBool(args(4), "includeLow")
        val incHigh = litBool(args(5), "includeHigh")
        val patterns = args(6) match {
          case SeqCtor(Seq()) => casIndexPaths(store, c, d, args(1))
          case other2 => Some(litStr(other2, "paths").split(";").toSeq)
        }
        xmlScanSeq(store, tuples, c, d, patterns.map(_.map(XmlScan.parse)),
          XmlScan.XCas(JsonPath.CmpRange(low, high, incLow, incHigh)))
      case "xml:scan-path-index" =>
        // matching ELEMENT nodes in document order (reference
        // function/xml/index/scan/ScanPathIndex.java)
        require(args.size == 3, "xml:scan-path-index(doc, idx, paths)")
        val (c, d) = resolveDocArg(args.head, env)
        requireScanHandle(store, c, d, args(1), "path")
        val patterns = args(2) match {
          case SeqCtor(Seq()) =>
            store.indexDefs(c, d).filter(_.kind == "path") match {
              case Seq(one) => Some(one.paths.toSeq).filter(_.nonEmpty)
              case Seq() => None
              case many => args(1) match {
                case NumLit(t) if !t.contains(".") =>
                  many.find(_.no == t.toInt).map(_.paths.toSeq)
                    .filter(_.nonEmpty)
                case _ => throw new UnsupportedOperationException(
                  "path scan with empty $paths over several registered " +
                    "path indexes needs a literal index number")
              }
            }
          case other2 => Some(litStr(other2, "paths").split(";").toSeq)
        }
        val pats = patterns.map(_.map(XmlScan.parse))
        pats.foreach(_.foreach(p => require(p.attrLast.isEmpty,
          "xml:scan-path-index over attribute paths is not supported " +
            "(the path index serves elements; use a CAS scan for " +
            "attribute values)")))
        xmlScanSeq(store, tuples, c, d, pats, XmlScan.XPath)
      case "xml:scan-name-index" =>
        // elements with the given QName (reference
        // function/xml/index/scan/ScanNameIndex.java)
        require(args.size == 3, "xml:scan-name-index(doc, idx, name)")
        val (c, d) = resolveDocArg(args.head, env)
        requireScanHandle(store, c, d, args(1), "name")
        val names = args(2) match {
          case SeqCtor(Seq()) => None
          case Call("fn:QName" | "QName", as) => Some(Set(litStr(
            as.last, "name")))
          case other2 => Some(litStr(other2, "name").split(";").toSet)
        }
        xmlScanSeq(store, tuples, c, d, None, XmlScan.XName(names))
      case "xml:sort-by-doc-order" | "xml:sort" =>
        // the engine's node sequences already carry their document
        // position (the POS discipline orders serialization), so the
        // reference's SortedNodeSequence (function/xml/index/
        // SortByDocOrder.java) is the identity here
        require(args.size == 1, s"$name(sequence)")
        evalSeq(store, args.head, tuples, env)
      case other =>
        throw new UnsupportedOperationException(s"unsupported function $other()")
    }
  }

  /** The valid-axis stab shared by jn:valid-at / jn:open-bitemporal /
    * jn:scan-valid-time-index: the document (if a valid OBJECT) plus its
    * array members that are valid OBJECTs at `validTs` — the exact arms
    * of the reference's ValidTimeIndexScan.isValidAtTime over
    * ValidTimeFilter.linearScanSequence's candidate set. */
  private def validStab(store: Store, tuples: DataFrame,
                        env: Map[String, Binding], docE: Jsoniq.Expr,
                        validTs: String, fromF: String,
                        toF: String): DataFrame = {
    val ts = lit(validTs).try_cast("timestamp")
    def bound(item: Column, f: String): Column =
      variant_get(item, fieldPath(f), "string").try_cast("timestamp")
    def valid(item: Column): Column = {
      val vf = bound(item, fromF)
      val vt = bound(item, toF)
      (vf.isNotNull || vt.isNotNull) &&
        (vf.isNull || !(ts < vf)) && (vt.isNull || !(ts > vt))
    }
    def objects(df: DataFrame): DataFrame =
      df.filter(schema_of_variant(col(ITEM)).startsWith("OBJECT") &&
        valid(col(ITEM)))
    val shape = (tuples.columns :+ POS :+ ITEM).map(col)
    val roots = objects(evalSeq(store, docE, tuples, env))
      .withColumn(POS, concat(array(lit(0L)), col(POS)))
      .select(shape: _*)
    val membersPart = objects(
        evalSeqRows(store, Jsoniq.Unbox(docE), tuples, env))
      .withColumn(POS, concat(array(lit(1L)), col(POS)))
      .select(shape: _*)
    roots.unionByName(membersPart)
  }

  /** Serve one textual index scan (`jn:scan-path-index` /
    * `jn:scan-cas-index[-range]` / `jn:scan-name-index`) over a stored
    * document. Shredded documents distribute: the driver walks only the
    * SKELETON (the document with each shredded array's members elided —
    * one streaming parse, memory O(skeleton)), while each member table
    * scans across executors ([[JsonMemberScan]]) — hits never
    * materialize on the driver. The skeleton's elided slots reserve a
    * document-order ordinal, so member hits `[slot, idx, k]` interleave
    * exactly where the full walk would emit them. Unshredded documents
    * keep the driver walk under a LOUD size cap
    * (-Dgraft.scan.maxDriverBytes, default 256 MB); a shredded pattern
    * that needs elided content (the array node itself is a hit) falls
    * back the same way. The reference streams these scans from its
    * indexes (function/jn/index/scan/ScanPathIndex.java:35,
    * ScanNameIndex.java:38).
    *
    * One documented normalization: member tables hold VARIANTS, whose
    * encoding sorts object keys, so hits WITHIN one member emit in
    * sorted-key order on the distributed path (the engine-wide
    * canonical form — every pinned expectation normalizes the same
    * way); a source document with unsorted keys walks in source order
    * on the driver paths. Hit CONTENT is canonical on both. */
  /** Source-order item texts of a jn:keys/jn:values argument: a frame
    * with `__p0` (long ordinal) + `__rawitem` (string) when the
    * argument is a STATIC doc-rooted chain (optionally `[]`-unboxed)
    * whose items' ORIGINAL text is recoverable — member_raw rows
    * (DISTRIBUTED, any document size) when the unboxed chain IS a
    * shredded entry, one member row + Jackson navigation when the
    * chain crosses an entry at a literal index, the stored text under
    * the driver cap, the skeleton sidecar over it (keys are complete
    * in the skeleton: only chain ARRAYS elide). None → canonical
    * fallback. Reference: brackit JSONFun iterates INSERTION order
    * (sirix-query function/jn/JNFun.java imports); the variant
    * encoding key-sorts at parse, so order must come from the text. */
  private def rawEntrySeq(store: Store, arg: Jsoniq.Expr,
                          env: Map[String, Binding],
                          wantValues: Boolean): Option[DataFrame] = {
    import Jsoniq._
    val spark = store.spark
    import spark.implicits._
    val (base, unboxed) = arg match {
      case Unbox(b) => (b, true)
      case other => (other, false)
    }
    // 0) literal object constructor: keys in WRITTEN order (values
    // only when every value is a literal — dynamic values fall back)
    base match {
      case ObjectCtor(ctorEntries) if !unboxed &&
          ctorEntries.forall(_.isRight) =>
        val m0 = new com.fasterxml.jackson.databind.ObjectMapper()
        val o = m0.createObjectNode()
        var ok = true
        ctorEntries.foreach {
          case Right((k, v)) =>
            if (wantValues)
              JsoniqUpdate.literalJson(v) match {
                case Some(j) => o.set[com.fasterxml.jackson.databind
                  .node.ObjectNode](k, m0.readTree(j)); ()
                case None => ok = false
              }
            else { o.putNull(k); () }
          case Left(_) => ok = false
        }
        if (ok)
          return Some(broadcast(Seq((0L, o.toString))
            .toDF("__p0", "__rawitem")))
      case _ => ()
    }
    val t = JsoniqUpdate.staticTargetIn(base, env).getOrElse(return None)
    val (c, d) = (t.collection, t.doc)
    val rev = graft.sources.TemporalTable
      .mostRecentRevision(store.docPath(c, d)).getOrElse(return None)
    val entries = store.shredEntries(c, d, None).filter(_.kind == "json")
    val chainSteps = t.steps.collect { case Left(f) => f }
    // 1) `chain[]` where the chain IS an entry: distributed member_raw
    if (unboxed && chainSteps.length == t.steps.length)
      entries.find(_.steps == chainSteps).foreach { en =>
        val df = store.readShredEntry(c, d, None, en)
        if (df.columns.contains("member_raw"))
          return Some(df.select(col("idx").as("__p0"),
            col("member_raw").as("__rawitem")))
      }
    // exact values survive the text round-trip (order is the point;
    // value RENDERING re-canonicalizes through the variant regardless)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .configure(com.fasterxml.jackson.databind.DeserializationFeature
        .USE_BIG_DECIMAL_FOR_FLOATS, true)
      .configure(com.fasterxml.jackson.databind.DeserializationFeature
        .USE_BIG_INTEGER_FOR_INTS, true)
    def navigate(n0: com.fasterxml.jackson.databind.JsonNode,
                 steps: List[Either[String, Int]])
        : Option[com.fasterxml.jackson.databind.JsonNode] = {
      var n = n0
      steps.foreach {
        case Left(f) =>
          if (n == null || !n.isObject) return None
          n = n.get(f)
        case Right(i) =>
          if (n == null || !n.isArray) return None
          n = n.get(i)
      }
      Option(n)
    }
    // 2) chain crossing an entry at a literal index: ONE member row
    val crossed = entries.iterator.flatMap { en =>
      val nsteps = en.steps.length
      if (t.steps.length > nsteps &&
          t.steps.take(nsteps) ==
            en.steps.map(Left(_): Either[String, Int]))
        t.steps(nsteps) match {
          case Right(i) if i >= 0 =>
            Some((en, i, t.steps.drop(nsteps + 1)))
          case _ => None
        }
      else None
    }.toSeq.headOption
    val nodeOpt: Option[com.fasterxml.jackson.databind.JsonNode] =
      crossed match {
        case Some((en, i, rest)) =>
          val df = store.readShredEntry(c, d, None, en)
          if (!df.columns.contains("member_raw")) return None
          val rows = df.filter(col("idx") === i.toLong)
            .select(col("member_raw")).collect()
          if (rows.isEmpty) None
          else navigate(mapper.readTree(rows.head.getString(0)), rest)
        case None =>
          val cap = sys.props.get("graft.scan.maxDriverBytes")
            .map(_.toLong).getOrElse(256L << 20)
          if (store.docLenOf(c, d, rev) <= cap)
            navigate(mapper.readTree(store.docText(c, d, None)), t.steps)
          else if (store.hasSkeletonSidecar(c, d, rev)) {
            val sk = store.skeletonOf(c, d, rev, entries.map(_.steps),
              () => store.docText(c, d, None))
            navigate(sk.root, t.steps) match {
              // keys of a tainted node stay complete (only chain
              // ARRAYS elide — field lists survive); values or unbox
              // touching elided content fall back to canonical
              case Some(n) if (wantValues || unboxed) &&
                  (sk.slots.containsKey(n) || sk.tainted.contains(n)) =>
                return None
              case resolved => resolved
            }
          } else return None
      }
    val texts: Seq[(Long, String)] = nodeOpt match {
      case None => Seq.empty // missing path = empty sequence
      case Some(n) if unboxed =>
        if (!n.isArray) Seq.empty
        else (0 until n.size()).map(i => (i.toLong, n.get(i).toString))
      case Some(n) => Seq((0L, n.toString))
    }
    Some(broadcast(
      texts.toDF("__p0", "__rawitem").select(col("__p0"),
        col("__rawitem"))))
  }

  private def docScanSeq(store: Store, tuples: DataFrame, collection: String,
                         doc: String, kind: JsonPath.ScanKind,
                         needId: Boolean = false): DataFrame = {
    val spark = store.spark
    import spark.implicits._
    val rev = graft.sources.TemporalTable
      .mostRecentRevision(store.docPath(collection, doc))
      .getOrElse(throw new IllegalArgumentException(
        s"no revisions for $collection/$doc")).toLong
    val cap = sys.props.get("graft.scan.maxDriverBytes").map(_.toLong)
      .getOrElse(256L << 20)
    // length probe first: an over-cap document must fail loudly BEFORE
    // a multi-GB collect, not OOM the driver (cached — immutable per
    // revision; the int travels, never the string)
    val docLen = store.docLenOf(collection, doc, rev.toInt)
    def hitsDf(hits: Seq[(JsonPath.Hit, Seq[Long])],
               withNullRaw: Boolean = false): DataFrame = {
      val base = hits.map { case (h, p) =>
        (p, h.json, h.path, h.parentPath, h.idPath) }
        .toDF("__p0", "__mj", "__spath", "__sppath", "__sipath")
        .select(col("__p0").as(POS), parse_json(col("__mj")).as(ITEM),
          col("__spath"), col("__sppath"), col("__sipath"),
          lit(rev).as("__srev"))
      // SKELETON hits carry no member text (their keys resolve through
      // the broadcast skeleton pairs; their paths never address an
      // elided member) — null aligns the union with member parts in
      // identity mode. Full-walk hits NEVER set this: their
      // member-interior paths need the layout join's raw text.
      if (withNullRaw) base.withColumn("__sraw", lit(null).cast("string"))
      else base
    }
    def docJson(): String =
      store.doc(collection, doc, None).collect().head.getString(0)
    def fullWalk(): DataFrame = {
      val hits = JsonPath.scanDoc(docJson(), kind)
      if (hits.isEmpty) emptyScan(tuples)
      else tuples.crossJoin(broadcast(hitsDf(
        hits.zipWithIndex.map { case (h, i) => (h, Seq(i.toLong)) })))
    }
    val entries = store.shredEntries(collection, doc, None)
      .filter(_.kind == "json")
    // a persisted skeleton sidecar serves the whole skeleton+member
    // path WITHOUT the document text — over-cap scans (name scans
    // included) run the normal route below at any size
    val sidecar = store.hasSkeletonSidecar(collection, doc, rev.toInt)
    if (docLen > cap && !sidecar) {
      // past the cap the document never touches the driver. A CAS or
      // PATH scan whose every pattern is a CONCRETE root-anchored
      // member path (prefix = an entry's chain + []) provably has no
      // skeleton hits — all matches live inside elided member lists —
      // so it serves purely distributed at ANY document size (hits
      // order per entry, then member). For a PATH scan the pattern must
      // be STRICTLY longer than chain + [] — that class also matches
      // the shredded array NODE itself (printed `/chain/[]`), which
      // lives in the skeleton; a CAS scan never emits the array node.
      // Anything else (wildcards/gaps in the prefix, name scans — a
      // name's absence from the skeleton is unprovable without reading
      // it) needs the skeleton: fail loudly.
      def memberLocal(p: List[JsonPath.Pat], strictlyInside: Int): Boolean =
        !p.contains(JsonPath.Desc) &&
          entries.exists(en =>
            p.length > en.steps.length + strictlyInside &&
              en.steps.zip(p).forall {
                case (n2, pat) => pat == JsonPath.Name(n2)
              } &&
              p(en.steps.length) == JsonPath.AnyMember)
      val memberOnly = entries.nonEmpty && (kind match {
        case JsonPath.CasScan(Some(ps), _) =>
          ps.map(JsonPath.parsePattern).forall(memberLocal(_, 0))
        case JsonPath.PathScan(Some(ps)) =>
          ps.map(JsonPath.parsePattern).forall(memberLocal(_, 1))
        case _ => false
      })
      if (!memberOnly)
        throw new IllegalStateException(
          s"index scan over $collection/$doc: document is $docLen bytes " +
            s"— over the $cap-byte driver-walk cap " +
            "(-Dgraft.scan.maxDriverBytes); only CAS/path scans with " +
            "concrete member-path patterns serve without the document " +
            "skeleton")
      val parts = entries.zipWithIndex.flatMap { case (en, k) =>
        memberScanPart(store.readShredEntry(collection, doc, None, en),
          kind, en.steps, k.toLong, rev, needId)
      }
      return parts.reduceOption(_.unionByName(_)) match {
        case None => emptyScan(tuples)
        case Some(src) =>
          attachToTuples(src, tuples, Map(BIG -> StoreRef(store)))
      }
    }
    if (entries.isEmpty) return fullWalk()
    try {
      // skeletons are immutable per revision — cache them so repeat
      // scans skip the doc collect + streaming parse
      val sk = store.skeletonOf(collection, doc, rev.toInt,
        entries.map(_.steps), docJson _)
      val (skHits, slotOrds) = JsonPath.scanSkeleton(sk, kind)
      val parts = entries.flatMap { en =>
        slotOrds.get(en.steps).flatMap { base =>
          memberScanPart(store.readShredEntry(collection, doc, None, en),
            kind, en.steps, base, rev, needId)
        }
      }
      val skDf =
        if (skHits.isEmpty) None
        else Some(hitsDf(skHits.map { case (h, o) => (h, Seq(o)) },
          withNullRaw = needId))
      val all = (skDf.map(broadcast).toSeq ++ parts)
        .reduceOption(_.unionByName(_))
      all match {
        case None => emptyScan(tuples)
        case Some(src) => attachToTuples(src, tuples,
          // scan hits are data-bound: never broadcast-collect them
          Map(BIG -> StoreRef(store)))
      }
    } catch {
      case _: JsonPath.NeedFullWalk =>
        if (docLen > cap) throw new IllegalStateException(
          s"index scan over $collection/$doc: a hit needs elided member " +
            s"content and the document is $docLen bytes — over the " +
            s"$cap-byte driver-walk cap (-Dgraft.scan.maxDriverBytes)")
        fullWalk()
    }
  }

  /** Serve one textual XML index scan over a stored XML resource.
    * Shredded element chains distribute when EVERY pattern is provably
    * member-local ([[XmlScan.memberLocal]] — anchored, concrete, and
    * strictly inside the chain's members): each member walks where its
    * row lives ([[XmlMemberXScan]]), hits never materialize on the
    * driver. Everything else (wildcards, unanchored `//` patterns,
    * name scans — a name's absence from the rest of the document is
    * unprovable without reading it) walks the document on the driver
    * under the LOUD scan cap, exactly the JSON scans' discipline. */
  private def xmlScanSeq(store: Store, tuples: DataFrame, c: String,
                         d: String, pats: Option[Seq[XmlScan.Pattern]],
                         mode: XmlScan.Mode): DataFrame = {
    val spark = store.spark
    import spark.implicits._
    val gb = org.apache.spark.sql.graftbridge.GraftBridge
    val rev = graft.sources.TemporalTable
      .mostRecentRevision(store.docPath(c, d))
      .getOrElse(throw new IllegalArgumentException(
        s"no revisions for $c/$d")).toLong
    val entries = store.shredEntries(c, d, None).filter(_.kind == "xml")
    val memberOnly = pats.exists(ps => ps.nonEmpty && entries.nonEmpty &&
      ps.forall(p => entries.exists(en => XmlScan.memberLocal(p, en.steps))))
    if (memberOnly) {
      val ps = pats.get
      // nested chains (e.g. [site] and [site,people]) both member-match
      // a deep pattern, and the OUTER entry's member_raw contains the
      // inner entry's subtrees — serving from both would emit every hit
      // twice. Each pattern serves from its DEEPEST matching entry only.
      def deepestFor(p: XmlScan.Pattern): List[String] =
        entries.filter(en => XmlScan.memberLocal(p, en.steps))
          .map(_.steps).maxBy(_.length)
      val parts = entries.zipWithIndex.flatMap { case (en, slot) =>
        val mine = ps.filter(p => XmlScan.memberLocal(p, en.steps) &&
          deepestFor(p) == en.steps)
        if (mine.isEmpty) None
        else {
          val df0 = store.readShredEntry(c, d, None, en)
          // sound typed PREFILTER (numeric CAS only): members whose
          // single-valued typed column DEFINITIVELY fails the widened
          // comparison skip the Jackson walk entirely — nulls (multi-
          // text concats, unparseable values, unsampled fields) always
          // walk, and the walk re-verifies exactly, so false keeps
          // cost one member parse and false drops cannot happen
          val df = (mode match {
            case XmlScan.XCas(cmp) =>
              xmlCasPrefilter(df0, en.steps, mine, cmp)
            case _ => None
          }).fold(df0)(df0.filter)
          val sc = gb.column(XmlMemberXScan(
            gb.expression(to_json(col("member"))), en.steps, mine, mode))
          Some(df.select(col("idx"),
              posexplode(sc).as(Seq("__k", "__mj")))
            .select(
              array(lit(slot.toLong), col("idx").cast("long"),
                col("__k").cast("long")).as(POS),
              parse_json(col("__mj")).as(ITEM),
              lit(rev).as("__srev")))
        }
      }
      return parts.reduceOption(_.unionByName(_)) match {
        case None => emptyScan(tuples)
        case Some(src) =>
          attachToTuples(src, tuples, Map(BIG -> StoreRef(store)))
      }
    }
    val cap = sys.props.get("graft.scan.maxDriverBytes").map(_.toLong)
      .getOrElse(256L << 20)
    val docLen = store.docLenOf(c, d, rev.toInt)
    if (docLen > cap) throw new IllegalStateException(
      s"xml index scan over $c/$d: document is $docLen bytes — over " +
        s"the $cap-byte driver-walk cap (-Dgraft.scan.maxDriverBytes); " +
        "only scans whose every pattern is a concrete anchored " +
        "member-local path serve without the document")
    val json = store.doc(c, d, None).collect().head.getString(0)
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(json)
    val hits = XmlScan.walkDoc(root, pats, mode)
    if (hits.isEmpty) return emptyScan(tuples)
    val src = hits.zipWithIndex
      .map { case (h, i) => (Seq(i.toLong), h) }
      .toDF("__p0", "__mj")
      .select(col("__p0").as(POS), parse_json(col("__mj")).as(ITEM),
        lit(rev).as("__srev"))
    tuples.crossJoin(broadcast(src))
  }

  /** Pushdown prefilter for a distributed XML CAS scan over a TYPED
    * member table: each member-local pattern's trailing child/attribute
    * maps to its `t.<name>` column; a member is skipped only when
    * EVERY pattern's typed value is non-null and fails a 2-ulp-WIDENED
    * numeric comparison (the walk compares exact BigDecimals, so
    * boundary rounding must never drop a true hit; null typed values —
    * multi-text concats, unparseable texts, fields the write-time
    * sample missed — always walk). None = no sound prefilter (string
    * comparisons, deep patterns, untyped tables): the walk filters
    * alone. */
  private def xmlCasPrefilter(df: DataFrame, chain: List[String],
                              pats: Seq[XmlScan.Pattern],
                              cmp: JsonPath.ValueCmp): Option[Column] = {
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}
    if (!df.columns.contains("t")) return None
    val tTypes: Map[String, DataType] = df.schema("t").dataType match {
      case st: StructType => st.fields.map(f => f.name -> f.dataType).toMap
      case _ => return None
    }
    def widen(v: String): Option[(Double, Double)] =
      scala.util.Try(BigDecimal(v)).toOption.map { _ =>
        val d = v.toDouble
        (Math.nextDown(Math.nextDown(d)), Math.nextUp(Math.nextUp(d)))
      }
    // bounds as an inclusive [lo, hi] band (NaN = unbounded side)
    val band: (Option[Double], Option[Double]) = cmp match {
      case JsonPath.CmpOp(op, v) => widen(v) match {
        case None => return None
        case Some((lo, hi)) => op match {
          case "==" => (Some(lo), Some(hi))
          case ">" | ">=" => (Some(lo), None)
          case "<" | "<=" => (None, Some(hi))
          case _ => return None // != : the complement cannot widen soundly
        }
      }
      case JsonPath.CmpRange(l, h, _, _) =>
        (widen(l), widen(h)) match {
          case (Some((lo, _)), Some((_, hi))) => (Some(lo), Some(hi))
          case _ => return None
        }
      case _ => return None
    }
    def fieldOf(p: XmlScan.Pattern): Option[String] = p.attrLast match {
      // gap patterns (`/a/b//c`) can hit at depths the typed member
      // columns never sampled — only single-group (pure child-step)
      // patterns map soundly onto a `t.<name>` column
      case _ if p.groups.length != 1 => None
      case Some(a) if a != "*" && p.elemNames.length == chain.length + 1 =>
        Some("@" + a)
      case None if p.elemNames.length == chain.length + 2 =>
        Some(p.elemNames.last)
      case _ => None
    }
    def condOf(f: String): Option[Column] = tTypes.get(f).flatMap {
      case LongType =>
        // integral bounds keep the comparison cast-free (pushable)
        val cc = col(s"t.`$f`")
        val c1 = band._1.map(lo => cc >= math.ceil(lo).toLong)
        val c2 = band._2.map(hi => cc <= math.floor(hi).toLong)
        Some((c1 ++ c2).reduceOption(_ && _).getOrElse(lit(true)))
      case DoubleType =>
        val cc = col(s"t.`$f`")
        val c1 = band._1.map(lo => cc >= lo)
        val c2 = band._2.map(hi => cc <= hi)
        Some((c1 ++ c2).reduceOption(_ && _).getOrElse(lit(true)))
      case _ => None // string-typed columns: CmpOp's dual dialect — walk
    }
    val conds = pats.map(p => fieldOf(p).flatMap(f =>
      condOf(f).map(cond => col(s"t.`$f`").isNull || cond)))
    if (conds.forall(_.isDefined)) conds.flatten.reduceOption(_ || _)
    else None
  }

  /** A scan's LITERAL index handle validated against the registry: an
    * integer literal (or its negation — jn:find-*-index returns -1 when
    * nothing matches) that does not name a registered index of the
    * scan's kind is the reference's ERR_INDEX_NOT_FOUND (SIRIXDBF0002,
    * jn/index/scan/ScanPathIndex.java:64) — a failed find must FAIL the
    * scan, never widen it. Registry-less resources (no _indexes.json —
    * pre-registry corpora) skip the check: their handles are positional
    * fictions the walk path never reads. */
  private def requireScanHandle(store: Store, c: String, d: String,
                                idxE: Jsoniq.Expr, kind: String): Unit = {
    val literal: Option[Int] = idxE match {
      case Jsoniq.NumLit(t) if !t.contains(".") => Some(t.toInt)
      case Jsoniq.Unary("-", Jsoniq.NumLit(t)) if !t.contains(".") =>
        Some(-t.toInt)
      case _ => None
    }
    literal.foreach { no =>
      val defs = store.indexDefs(c, d)
      if (defs.nonEmpty && !defs.exists(x => x.no == no && x.kind == kind))
        throw new IllegalArgumentException(
          s"SIRIXDBF0002 (index-not-found): no $kind index no $no for " +
            s"collection $c and document $d" +
            (if (no < 0) " — jn:find-" + kind + "-index found nothing"
             else ""))
    }
  }

  /** The paths an empty `$paths` CAS scan covers: the NAMED index's
    * registered definition (a literal handle looks it up directly; a
    * variable-bound handle resolves when ONE CAS index exists — the
    * corpus' shape; several would be ambiguous and the reference scans
    * exactly the index the handle names, so fail loudly rather than
    * union). None = no registered CAS index — scan every class (the
    * pre-registry behavior for handle-less corpora). */
  private def casIndexPaths(store: Store, c: String, d: String,
                            idxE: Jsoniq.Expr): Option[Seq[String]] = {
    val defs = store.indexDefs(c, d).filter(_.kind == "cas")
    val chosen = idxE match {
      case Jsoniq.NumLit(t) if !t.contains(".") => defs.find(_.no == t.toInt)
      case _ if defs.size <= 1 => defs.headOption
      case _ => throw new UnsupportedOperationException(
        "CAS scan with empty $paths over several registered CAS indexes " +
          "needs a literal index number (the handle variable's value is " +
          "not statically known)")
    }
    chosen.map(_.paths.toSeq).filter(_.nonEmpty)
  }

  private def emptyScan(tuples: DataFrame): DataFrame =
    tuples.withColumn(POS, array(lit(0L)))
      .withColumn(ITEM, vnull)
      .withColumn("__spath", lit("")).withColumn("__sppath", lit(""))
      .withColumn("__sipath", lit(""))
      .withColumn("__srev", lit(0L))
      .filter(lit(false))

  /** The distributed member part of one shredded entry's scan: None
    * when no pattern can match inside the members (part skipped), a
    * typed-column plan when the CAS patterns reduce to one concrete
    * member field (the reference's CAS-index model — typed keys, no
    * re-walk), else the generic per-member walk. */
  private def memberScanPart(df: DataFrame, kind: JsonPath.ScanKind,
                             chain: List[String], base: Long,
                             rev: Long,
                             needId: Boolean = false): Option[DataFrame] =
    kind match {
      case JsonPath.CasScan(pats, cmp) =>
        JsonPath.casEntryPlan(pats, chain) match {
          case JsonPath.NoMemberHits => None
          case JsonPath.TypedField(f) =>
            typedCasPart(df, f, cmp, chain, base, rev, needId)
              .orElse(Some(genericScanPart(df, kind, chain, base, rev, needId)))
          case JsonPath.GenericWalk =>
            Some(genericScanPart(df, kind, chain, base, rev, needId))
        }
      case _ => Some(genericScanPart(df, kind, chain, base, rev, needId))
    }

  /** Identity mode stashes the hit's MEMBER source text on the row
    * (`__sraw`): node-key resolution then joins only the narrow offsets
    * sidecar — the member table (the document's bytes) never re-joins
    * into the key lookup. Tables from before the raw column exist serve
    * through the layout join as before. */
  private def rawStash(df: DataFrame, needId: Boolean): Option[Column] =
    if (!needId) None
    // a pre-raw-column table stashes null — harmless: node-key
    // resolution over such tables never takes the distributed arm
    // (shreddedKeyCtx requires member_raw on every entry)
    else if (df.columns.contains("member_raw"))
      Some(col("member_raw").as("__sraw"))
    else Some(lit(null).cast("string").as("__sraw"))

  /** Generic member walk: to_json the member variant, re-walk with the
    * seeded class-model walker, explode the hits. */
  private def genericScanPart(df: DataFrame, kind: JsonPath.ScanKind,
                              chain: List[String], base: Long,
                              rev: Long, needId: Boolean = false): DataFrame = {
    val scanCol = org.apache.spark.sql.graftbridge.GraftBridge.column(
      JsonMemberScan(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(
          to_json(col("member"))),
        org.apache.spark.sql.graftbridge.GraftBridge.expression(col("idx")),
        kind, chain))
    val raw = rawStash(df, needId)
    df.select(Seq(col("idx"),
        posexplode(scanCol).as(Seq("__k", "__h"))) ++ raw: _*)
      .select(Seq(
        array(lit(base), col("idx"), col("__k").cast("long")).as(POS),
        parse_json(col("__h.j")).as(ITEM),
        col("__h.p").as("__spath"), col("__h.pp").as("__sppath"),
        col("__h.ip").as("__sipath"), lit(rev).as("__srev")) ++
        raw.map(_ => col("__sraw")): _*)
  }

  /** CAS scan over ONE concrete member field, compiled onto the typed
    * parquet column: the whole plan reads `idx` and `t.field` — never
    * the member variant. Value TEXT semantics match the Jackson walk:
    * string columns are the raw text; long/double columns came through
    * the same numeric image the walk's asText renders (JSON-inference
    * widens decimals to DOUBLE; Jackson parses floats as doubles), so
    * cast-to-string agrees. None when the column's type cannot carry
    * the comparison faithfully — the generic walk serves instead. */
  private def typedCasPart(df: DataFrame, field: String,
                           cmp: JsonPath.ValueCmp, chain: List[String],
                           base: Long, rev: Long,
                           needId: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
    if (!df.columns.contains("t")) return None
    val fld = df.schema("t").dataType match {
      case st: StructType => st.fields.find(_.name == field)
      case _ => None
    }
    fld.flatMap { f =>
      val vcol = col(s"t.`$field`")
      val textCol: Option[Column] = f.dataType match {
        case StringType => Some(vcol)
        case LongType | DoubleType => Some(vcol.cast("string"))
        case _ => None
      }
      def opCol(op: String, t: Column, v: Column): Column = op match {
        case "==" => t === v
        case "!=" => t =!= v
        case "<" => t < v; case "<=" => t <= v
        case ">" => t > v; case ">=" => t >= v
      }
      val cond: Option[Column] = cmp match {
        case JsonPath.CmpOp(op, v) =>
          // a numeric key makes the point scan NUMERIC (the walker's
          // CmpOp discipline, mirroring the reference's typed Atomic
          // keys — index/cas/CASFilter.java:24-47): compare the typed
          // column natively. A numeric key over a STRING column cannot
          // compile (the walker parses each candidate, skipping
          // unparseable ones) — the generic walk serves instead.
          scala.util.Try(BigDecimal(v)).toOption match {
            case Some(n) => f.dataType match {
              case LongType => Some(opCol(op, vcol, lit(n)))
              case DoubleType => Some(opCol(op, vcol, lit(n.toDouble)))
              case _ => None
            }
            case None => textCol.map(opCol(op, _, lit(v)))
          }
        case JsonPath.CmpRange(lo, hi, il, ih) =>
          val loN = scala.util.Try(BigDecimal(lo)).toOption
          val hiN = scala.util.Try(BigDecimal(hi)).toOption
          (loN, hiN, f.dataType) match {
            case (Some(l), Some(h), LongType) =>
              // decimal literals: exact for >2^53 longs
              Some((if (il) vcol >= lit(l) else vcol > lit(l)) &&
                (if (ih) vcol <= lit(h) else vcol < lit(h)))
            case (Some(l), Some(h), DoubleType) =>
              Some((if (il) vcol >= lit(l.toDouble)
                    else vcol > lit(l.toDouble)) &&
                (if (ih) vcol <= lit(h.toDouble)
                 else vcol < lit(h.toDouble)))
            case (l, h, StringType) if l.isEmpty || h.isEmpty =>
              // the walker's string arm: lexicographic
              Some((if (il) vcol >= lit(lo) else vcol > lit(lo)) &&
                (if (ih) vcol <= lit(hi) else vcol < lit(hi)))
            case _ => None // e.g. numeric bounds over a string column
          }
      }
      cond.map { c =>
        // the hit is a member FIELD value: concrete printed path
        // `/chain/[idx]/field` with the member object as parent (the
        // walker's field discipline, not the bare-member one)
        val arrayPos = chain.map("/" + NodeKeys.escSeg(_)).mkString
        val fieldSeg = NodeKeys.escSeg(field)
        df.filter(vcol.isNotNull && c)
          .select(Seq(array(lit(base), col("idx"), lit(0L)).as(POS),
            expr("variant_get(to_variant_object(struct(t.`" + field +
              "` as v)), '$.v')").as(ITEM),
            concat(lit(s"$arrayPos/["), col("idx"),
              lit(s"]/$fieldSeg")).as("__spath"),
            concat(lit(s"$arrayPos/["), col("idx"), lit("]"))
              .as("__sppath"),
            concat(lit(s"$arrayPos/["), col("idx"),
              lit(s"]/$fieldSeg")).as("__sipath"),
            lit(rev).as("__srev")) ++ rawStash(df, needId): _*)
      }
    }
  }

  /** jn:all-times over a static path: one row per committed revision
    * whose document defines the path, in revision order, with revision
    * and previous-revision content stashed alongside. Driver-side
    * navigation (one bounded collect per revision), items broadcast. */
  /** FMSE-matched state of a stored XML resource's head against a new
    * document: (aNodes, bNodes, matches a_key->b_key) as driver maps,
    * with the match validated 1-1 and roots paired. Shared by xml:diff
    * (two stored revisions) and xml:import (head vs imported text). */
  private final case class XNode(key: Long, parent: Option[Long],
                                 kind: String, name: Option[String],
                                 value: Option[String], ord: Seq[Int])
  private def xmlMatchOf(store: Store, xmlA: String, xmlB: String)
      : (Map[Long, XNode], Map[Long, XNode], Map[Long, Long]) = {
    val spark = store.spark
    import spark.implicits._
    def shred(x: String) = graft.sources.XmlShredder.shred(
      Seq((1L, x)).toDF("doc_id", "xml"), "doc_id", "xml")
    val a = shred(xmlA).cache()
    val b = shred(xmlB).cache()
    def nodesOf(df: DataFrame): Map[Long, XNode] =
      df.select(col("node_key"), col("parent_key"), col("kind"),
          col("name"), col("value"), col("ordpath"))
        .as[(Long, Option[Long], String, Option[String], Option[String],
          Seq[Int])]
        .collect()
        .map { case (k, p, kd, n, v, o) => k -> XNode(k, p, kd, n, v, o) }
        .toMap
    val aN = nodesOf(a)
    val bN = nodesOf(b)
    val matches = graft.operators.TreeMatch.matchTrees(a, b)
      .select("a_key", "b_key").as[(Long, Long)].collect()
    a.unpersist(); b.unpersist()
    val m = matches.toMap
    require(m.size == matches.length &&
      matches.map(_._2).distinct.length == matches.length,
      "xml diff/import: FMSE match is not 1-1")
    val aRoot = aN.values.find(_.parent.isEmpty).get.key
    val bRoot = bN.values.find(_.parent.isEmpty).get.key
    require(m.get(aRoot).contains(bRoot),
      "xml diff/import: document roots did not match")
    (aN, bN, m)
  }

  private def xmlFmseMatch(store: Store, c: String, d: String,
                           newXml: String): Unit = {
    // both sides materialize on the driver for the match-state maps —
    // the same LOUD cap as every other driver walk (an over-cap import
    // must fail explainably, not OOM building node maps)
    val cap = sys.props.get("graft.scan.maxDriverBytes").map(_.toLong)
      .getOrElse(256L << 20)
    val head = graft.sources.TemporalTable
      .mostRecentRevision(store.docPath(c, d)).get
    val headLen = store.docLenOf(c, d, head)
    if (headLen.max(newXml.length.toLong) > cap)
      throw new UnsupportedOperationException(
        s"xml:import over $c/$d: document (${headLen.max(newXml.length)} " +
          s"bytes) exceeds the driver-walk cap ($cap; " +
          "-Dgraft.scan.maxDriverBytes)")
    val headJson = store.doc(c, d, None).collect().head.getString(0)
    xmlMatchOf(store, XmlItem.jsonToXml(headJson), newXml)
    ()
  }

  /** The xml:diff update script (reference function/xml/diff/
    * Diff.java's XQuery Update dialect): ops address nodes via
    * `sdb:select-item($doc, key)` — keys are THIS engine's
    * document-order shred keys (the reference uses its page-store
    * keys; documented divergence). Deterministic: delete/replace/
    * rename/move/insert lines sort within class by key. Updates split
    * into `replace value of node` (value change) and `rename node`
    * (name change) — the FMSE update op's two faces. */
  private def xmlDiffScript(store: Store, c: String, d: String,
                            r1: Int, r2: Int): String = {
    val cap = sys.props.get("graft.scan.maxDriverBytes").map(_.toLong)
      .getOrElse(256L << 20)
    Seq(r1, r2).foreach { r =>
      val len = store.docLenOf(c, d, r)
      if (len > cap) throw new UnsupportedOperationException(
        s"xml:diff over $c/$d rev $r: document ($len bytes) exceeds " +
          s"the driver-walk cap ($cap; -Dgraft.scan.maxDriverBytes)")
    }
    def xmlOf(r: Int): String = XmlItem.jsonToXml(
      store.doc(c, d, Some(r)).collect().head.getString(0))
    val (aN, bN, m) = xmlMatchOf(store, xmlOf(r1), xmlOf(r2))
    val inv = m.map(_.swap)
    val matchedA = m.keySet
    val matchedB = inv.keySet
    val bChildren = bN.values.toSeq.flatMap(n => n.parent.map(_ -> n))
      .groupBy(_._1).map { case (p, xs) =>
        p -> xs.map(_._2).sortBy(_.ord.mkString(".")) }
    // XML character-data / attribute escaping (same rendering rules as
    // [[XmlItem.jsonToXml]]) and XQuery string-literal escaping (quote
    // doubling; `&` is an entity-reference lead-in inside XQuery string
    // literals, so it must render as &amp;) — raw <, & or " in values
    // would otherwise emit a malformed or semantically wrong script
    def escXText(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case c => c.toString
    }
    def escXAttr(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '"' => "&quot;"
      case c => c.toString
    }
    def escStrLit(s: String): String = s.flatMap {
      case '"' => "\"\""
      case '&' => "&amp;"
      case c => c.toString
    }
    def serializeB(key: Long): String = {
      val n = bN(key)
      n.kind match {
        case "text" => escXText(n.value.getOrElse(""))
        case "comment" => s"<!--${n.value.getOrElse("")}-->"
        case "pi" => s"<?${n.name.getOrElse("")} ${n.value.getOrElse("")}?>"
        case "attribute" => "" // rendered on the owning element
        case _ =>
          val kids = bChildren.getOrElse(key, Seq.empty)
          val attrs = kids.filter(_.kind == "attribute")
            .map(a =>
              s""" ${a.name.getOrElse("")}="${escXAttr(a.value.getOrElse(""))}"""")
            .mkString
          val body = kids.filterNot(_.kind == "attribute")
            .map(k => serializeB(k.key)).mkString
          val nm = n.name.getOrElse("")
          if (body.isEmpty) s"<$nm$attrs/>" else s"<$nm$attrs>$body</$nm>"
      }
    }
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    // top-most deletes (a-side, unmatched, parent matched or root)
    aN.values.toSeq.sortBy(_.ord.mkString("."))
      .filter(n => !matchedA(n.key) &&
        n.parent.forall(p => matchedA(p)))
      .foreach(n => ops += s"  delete node sdb:select-item($$doc, ${n.key})")
    // top-most inserts (b-side, unmatched, parent matched): the
    // serialized subtree inserts into the parent's A-SIDE node
    bN.values.toSeq.sortBy(_.ord.mkString("."))
      .filter(n => !matchedB(n.key) && n.parent.exists(matchedB))
      .foreach { n =>
        val pa = inv(n.parent.get)
        val rendered = n.kind match {
          case "attribute" =>
            s"attribute ${n.name.getOrElse("")} " +
              s"{\"${escStrLit(n.value.getOrElse(""))}\"}"
          case _ => serializeB(n.key)
        }
        ops += s"  insert nodes $rendered into sdb:select-item($$doc, $pa)"
      }
    // matched pairs: value / name changes, then moves
    m.toSeq.sortBy(_._1).foreach { case (ak, bk) =>
      val an = aN(ak); val bn = bN(bk)
      if (an.value != bn.value && bn.kind != "element")
        ops += "  replace value of node " +
          s"sdb:select-item($$doc, $ak) with " +
          s"\"${escStrLit(bn.value.getOrElse(""))}\""
      if (an.name != bn.name && bn.name.isDefined)
        ops += s"  rename node sdb:select-item($$doc, $ak) as ${bn.name.get}"
      val movedAway = (an.parent, bn.parent) match {
        case (Some(ap), Some(bp)) => !m.get(ap).contains(bp)
        case _ => false
      }
      // a move into an INSERTED subtree has no a-side target; the
      // inserted parent's own `insert nodes` line carries the content
      if (movedAway && bn.parent.exists(inv.contains))
        ops += s"  move node sdb:select-item($$doc, $ak) into " +
          s"sdb:select-item($$doc, ${inv(bn.parent.get)})"
    }
    if (ops.isEmpty) ""
    else s"let $$doc := xml:doc('$c','$d',$r1)\nreturn (\n" +
      ops.mkString(",\n") + "\n)"
  }

  /** The target node's canonical JSON at one revision (key-sorted),
    * None when the pointer resolves to nothing there. */
  private def nodeJsonAt(store: Store, target: JsoniqUpdate.StaticTarget,
                         rev: Int): Option[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.configure(com.fasterxml.jackson.databind.SerializationFeature
      .ORDER_MAP_ENTRIES_BY_KEYS, true)
    val doc = store.doc(target.collection, target.doc, Some(rev))
      .collect().head.getString(0)
    var n = mapper.readTree(doc)
    val it = target.steps.iterator
    while (n != null && it.hasNext) {
      n = it.next() match {
        case Left(f) => if (n.isObject) n.get(f) else null
        case Right(i) =>
          if (n.isArray && i >= 0 && i < n.size()) n.get(i) else null
      }
    }
    Option(n).map(v =>
      mapper.writeValueAsString(mapper.treeToValue(v, classOf[Object])))
  }

  private def allTimesAt(store: Store, tuples: DataFrame,
                         target: JsoniqUpdate.StaticTarget,
                         slice: Seq[Int] => Seq[Int] = identity,
                         changedOnly: Boolean = false,
                         newestFirst: Boolean = false): DataFrame = {
    val spark = store.spark
    import spark.implicits._
    val path = store.docPath(target.collection, target.doc)
    val revs = graft.sources.TemporalTable.commits(path).map(_.revision)
    require(revs.nonEmpty, s"no revisions for ${target.collection}/${target.doc}")
    def nodeAt(rev: Int): Option[String] = nodeJsonAt(store, target, rev)
    val byRev = revs.map(r => r -> nodeAt(r))
    val keep = slice(byRev.collect { case (r, Some(_)) => r }).toSet
    val rows0 = byRev.zipWithIndex.collect {
      case ((r, Some(json)), idx) if keep(r) =>
        // jn:previous/jn:next stash STRICTLY the adjacent revision
        // (reference PreviousAxis/NextAxis open revision±1 and moveTo
        // the node — absent there = empty sequence, even if the node
        // exists farther away); change detection below keeps the
        // nearest-EXISTING compare (ItemHistory follows the node's own
        // modification chain — calibrated content-compare equivalent)
        val prevAdj = byRev.lift(idx - 1).flatMap(_._2)
        val nextAdj = byRev.lift(idx + 1).flatMap(_._2)
        val prevExisting = byRev.take(idx).reverse.collectFirst {
          case (_, Some(pj)) => pj
        }
        (r.toLong, json, prevAdj.orNull, nextAdj.orNull,
          prevExisting.orNull)
    }
    // sdb:item-history: only revisions where the node CHANGED (its
    // first existence counts), ascending — reference
    // function/sdb/trx/ItemHistory.java:40
    val rows =
      (if (changedOnly) rows0.filter { case (_, json, _, _, prevEx) =>
        prevEx == null || prevEx != json }
       else rows0).map { case (r, json, pa, na, _) => (r, json, pa, na) }
    // the axis' target is STATIC, so each hit's printed path is the
    // target's own — stashing it (plus the per-row revision) gives
    // temporal-axis hits real node identity: sdb:nodekey over
    // jn:all-times / jn:past / sdb:item-history resolves per revision
    val spath = NodeKeys.renderPath(target.steps)
    if (rows.isEmpty)
      return tuples.withColumn(POS, array(lit(0L))).withColumn(ITEM, vnull)
        .withColumn("__srev", lit(0L)).withColumn("__sprev", lit(""))
        .withColumn("__snext", lit(""))
        .withColumn("__spath", lit(spath))
        .filter(lit(false))
    // jn:past iterates NEWEST-first (reference PastAxis.java:55-63
    // counts revision DOWN from current-1) — a negated revision POS
    // keeps the serialization order without reshaping the rows
    val posRev = if (newestFirst) -col("__srev") else col("__srev")
    val df = rows.toDF("__srev", "__mj", "__sprev", "__snext")
      .select(array(posRev).as(POS), parse_json(col("__mj")).as(ITEM),
        col("__srev"), col("__sprev"), col("__snext"))
      .withColumn("__spath", lit(spath))
    tuples.crossJoin(broadcast(df))
  }

  /** Deterministic update script between two document trees: recursive
    * descent, object keys sorted; object-key additions -> `insert`,
    * removals -> `delete`, value changes -> `replace` (recursing into
    * matching objects and equal-length arrays). Paths are JSON-pointer
    * style. The reference's jn:diff emits the same operation kinds keyed
    * by nodekey (function/jn/diff/Diff.java:71). */
  private def jsonDiffScript(collection: String, doc: String,
                             r1: Int, r2: Int,
                             oldJ: String, newJ: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.configure(com.fasterxml.jackson.databind.SerializationFeature
      .ORDER_MAP_ENTRIES_BY_KEYS, true)
    type Node = com.fasterxml.jackson.databind.JsonNode
    val ops = Seq.newBuilder[String]
    def v(n: Node): String =
      mapper.writeValueAsString(mapper.treeToValue(n, classOf[Object]))
    def esc(s: String): String = s.replace("~", "~0").replace("/", "~1")
    // the assembled pointer goes through a REAL JSON string serializer —
    // keys containing quotes/backslashes/control characters must not
    // produce syntactically invalid script text
    def p(path: String): String = mapper.writeValueAsString(path)
    def walk(path: String, o: Node, n: Node): Unit = {
      if (o.isObject && n.isObject) {
        val oks = new java.util.TreeSet[String]()
        val nks = new java.util.TreeSet[String]()
        o.fieldNames().forEachRemaining(k => { oks.add(k); () })
        n.fieldNames().forEachRemaining(k => { nks.add(k); () })
        oks.forEach { k =>
          if (!nks.contains(k))
            ops += s"""{"op":"delete","path":${p(s"$path/${esc(k)}")}}"""
        }
        nks.forEach { k =>
          if (!oks.contains(k))
            ops += s"""{"op":"insert","path":${p(s"$path/${esc(k)}")},"value":${v(n.get(k))}}"""
          else walk(s"$path/${esc(k)}", o.get(k), n.get(k))
        }
      } else if (o.isArray && n.isArray && o.size() == n.size()) {
        (0 until o.size()).foreach(i =>
          walk(s"$path/$i", o.get(i), n.get(i)))
      } else if (o != n) {
        ops += s"""{"op":"replace","path":${p(path)},"value":${v(n)}}"""
      }
    }
    walk("", mapper.readTree(oldJ), mapper.readTree(newJ))
    s"""{"database":${mapper.writeValueAsString(collection)},""" +
      s""""resource":${mapper.writeValueAsString(doc)},""" +
      s""""old-revision":$r1,"new-revision":$r2,""" +
      s""""diffs":[${ops.result().mkString(",")}]}"""
  }

  /** The document a `$doc`-style argument denotes: a literal `jn:doc`
    * call or a static-let binding of one. */
  private def resolveDocArg(e: Jsoniq.Expr,
                            env: Map[String, Binding]): (String, String) =
    e match {
      case Jsoniq.Call("jn:doc" | "xml:doc",
          Seq(Jsoniq.StrLit(c), Jsoniq.StrLit(d))) =>
        (c, d)
      case Jsoniq.VarRef(n) => env.get(n) match {
        case Some(SeqVar(_, Some(st))) if st.steps.isEmpty =>
          (st.collection, st.doc)
        case _ => throw new UnsupportedOperationException(
          s"$$$n does not denote a stored document")
      }
      case other => throw new UnsupportedOperationException(
        s"expected a document argument, got $other")
    }

  // ----------------------------------------------- descendant deref (=>>)
  /** Pre-order walk collecting every value of `field` at ANY depth —
    * matches recurse into matched values too (JsonIntegrationTest
    * testDescendantDerefExprWithDifferentPaths2's pinned behaviour). */
  /** Explode each item's `~c` children (XmlItem encoding) in order;
    * non-element items contribute nothing. */
  private def explodeChildren(seq: DataFrame): DataFrame = {
    val b = seq
      .withColumn("__cs", expr(
        s"try_cast(variant_get($ITEM, '$$[''~c'']') as array<variant>)"))
      .filter(col("__cs").isNotNull)
    val keep = b.columns
      .filter(c => c != ITEM && c != "__cs" && c != POS).map(col)
    b.select(keep :+ col(POS) :+
        posexplode(col("__cs")).as(Seq("__p0", ITEM)): _*)
      .withColumn(POS, concat(col(POS), array(col("__p0").cast("long"))))
      .drop("__p0")
  }

  /** Map each item through a driver-serializable recursive `walker`
    * (descendant deref / descendant element step — arbitrary-depth
    * recursion no Catalyst expression expresses). Variant columns cannot
    * ride a typed flatMap, so the walk runs on (key, json) pairs only
    * and joins back on the (ORD, POS) identity, which is unique per item
    * row and fully deterministic. */
  private def walkJoin(seq: DataFrame,
                       walker: String => Seq[String]): DataFrame = {
    val spark = seq.sparkSession
    import spark.implicits._
    val key = concat(concat_ws(",", col(ORD)), lit("|"), concat_ws(",", col(POS)))
    val pairs = seq.select(key.as("__k"), to_json(col(ITEM)).as("__j"))
      .as[(String, String)]
      .flatMap { case (k, j) =>
        walker(j).zipWithIndex.map { case (m, i) => (k, i.toLong, m) }
      }
      .toDF("__k", "__p0", "__mj")
    seq.withColumn("__k", key)
      .drop(ITEM)
      .join(pairs, "__k")
      .withColumn(POS, concat(col(POS), array(col("__p0"))))
      .withColumn(ITEM, parse_json(col("__mj")))
      .drop("__k", "__p0", "__mj")
  }

  /** Jackson pre-order walk: values of `field` in document order,
    * serialized compact with sorted keys (the variant canonical form). */
  private[query] def walkCollect(json: String, field: String): Seq[String] = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
    val mapper = new ObjectMapper()
    mapper.configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)
    val out = Seq.newBuilder[String]
    def walk(node: JsonNode): Unit = {
      if (node.isObject) {
        val it = node.fields()
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey == field) out += mapper.writeValueAsString(
            mapper.treeToValue(e.getValue, classOf[Object]))
          walk(e.getValue)
        }
      } else if (node.isArray) {
        val it = node.elements()
        while (it.hasNext) walk(it.next())
      }
    }
    walk(mapper.readTree(json))
    out.result()
  }
}
