package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** FMSE-style keyless tree matching + edit script (SURVEY.md §2.9 FMSE
  * row; reference: bundles/sirix-core/src/main/java/io/sirix/diff/
  * algorithm/fmse/FMSE.java:67 — "fast matching / edit script": match two
  * UNKEYED trees, then derive a minimum-ish edit script of
  * insert/delete/update/move operations).
  *
  * Operates on shredded node tables ([[graft.sources.XmlShredder]] schema:
  * `doc_id, node_key, parent_key, kind, name, value, ordpath`) and matches
  * the two sides PER doc_id — so one call matches millions of document
  * pairs in parallel, each pair's work local to its doc_id groups (the
  * scale posture: shuffle keys always include doc_id; no driver-side
  * recursion anywhere).
  *
  * Match phases, mirroring the reference's structure:
  *
  *  1. **Exact subtree match** (the reference's identical-subtree pruning):
  *     per-node subtree hashes — computed with ONE ancestor-prefix explode
  *     and ONE aggregation, no iteration — join equal; the k-th occurrence
  *     on the left pairs with the k-th on the right (document order), and
  *     the whole matched subtree's descendants pair by relative path.
  *  2. **Leaf match** (`FMSE.java` leaf pass): unmatched leaves pair on
  *     (kind, name, value) in document order.
  *  3. **Internal match, bottom-up per level** (+ unconditional root
  *     match): unmatched elements pair when they share a name and the
  *     ratio of already-matched child pairs to
  *     `max(|children(a)|, |children(b)|)` reaches `minRatio` (a RENAME
  *     needs `renameRatio` and ≥2 child pairs); highest ratio wins.
  *  5. **Context match, top-down per level**: unmatched elements under
  *     matched parents pair by name in document order (empty wrappers,
  *     structural shells).
  *  4. **Leaf value match**: remaining leaves under matched parents pair
  *     positionally regardless of value — these surface as `update` ops.
  *
  * Phases are combined 1-1 (earlier phase wins, then larger subtree).
  */
object TreeMatch {

  private val Sep = "\u0001"

  private def tok = concat_ws(Sep,
    coalesce(col("kind"), lit("")), coalesce(col("name"), lit("")),
    coalesce(col("value"), lit("")))

  /** Explode each node into (subtree root prefix, relative path, content):
    * every node contributes one row per ancestor-or-self — O(nodes × depth)
    * rows, all map-side. */
  private def prefixTokens(nodes: DataFrame): DataFrame =
    nodes.select(col("doc_id"), col("node_key"), col("ordpath"), tok.as("__tok"))
      .withColumn("__plen", explode(sequence(lit(1), size(col("ordpath")))))
      .withColumn("__root", slice(col("ordpath"), lit(1), col("__plen")))
      .withColumn("__rel", concat_ws(".",
        slice(col("ordpath"), col("__plen") + 1, size(col("ordpath")) - col("__plen"))))

  /** Nodes plus `__subtree_hash` (content-identical subtrees hash equal
    * regardless of position) and `__subtree_size`. */
  def withSubtreeHash(nodes: DataFrame): DataFrame = {
    val agg = prefixTokens(nodes)
      .groupBy(col("doc_id"), col("__root"))
      .agg(
        md5(concat_ws("\u0002",
          array_sort(collect_list(concat_ws(Sep, col("__rel"), col("__tok"))))))
          .as("__subtree_hash"),
        count(lit(1)).as("__subtree_size"))
    nodes.join(agg,
      nodes("doc_id") === agg("doc_id") && nodes("ordpath") === agg("__root"))
      .select(nodes("*"), col("__subtree_hash"), col("__subtree_size"))
  }


  /** 1-1 node matches between `a` and `b` per doc_id:
    * `(doc_id, a_key, b_key, phase)`. `minRatio` gates same-name internal
    * matches; `renameRatio` (stricter) lets a DIFFERENTLY-named element
    * match when enough of its children already matched — the rename shows
    * up as an `update` op in the edit script. */
  def matchTrees(a: DataFrame, b: DataFrame, minRatio: Double = 0.5,
                 renameRatio: Double = 0.7): DataFrame = {
    val ah = withSubtreeHash(a).select(col("doc_id"), col("node_key").as("a_key"),
      col("ordpath").as("a_path"), col("__subtree_hash"), col("__subtree_size"))
    val bh = withSubtreeHash(b).select(col("doc_id"), col("node_key").as("b_key"),
      col("ordpath").as("b_path"), col("__subtree_hash"), col("__subtree_size"))

    // phase 1: k-th equal-hash subtree left pairs with k-th right
    // rank in TRUE document order: the ordpath array<int> compares
    // element-wise (ancestors first, siblings by position) — the previous
    // dot-joined STRING ordered "1.10" before "1.2", crossing matches for
    // any node with 10+ siblings
    def ranked(df: DataFrame, pathCol: String) = df.withColumn("__rn",
      row_number().over(Window.partitionBy(col("doc_id"), col("__subtree_hash"))
        .orderBy(col(pathCol))))
    val p1Roots = ranked(ah, "a_path").join(
        ranked(bh, "b_path").withColumnRenamed("__subtree_size", "__bsize"),
        Seq("doc_id", "__subtree_hash", "__rn"))
      .select(col("doc_id"), col("a_key"), col("b_key"),
        col("a_path"), col("b_path"), col("__subtree_size"))
    // propagate to descendants by relative path (root itself has rel = "")
    val aAnc = prefixTokens(a).select(col("doc_id"), col("__root").as("a_path"),
      col("__rel"), col("node_key").as("a_desc"))
    val bAnc = prefixTokens(b).select(col("doc_id"), col("__root").as("b_path"),
      col("__rel"), col("node_key").as("b_desc"))
    val phase1 = p1Roots
      .join(aAnc, Seq("doc_id", "a_path"))
      .join(bAnc, Seq("doc_id", "b_path", "__rel"))
      .select(col("doc_id"), col("a_desc").as("a_key"), col("b_desc").as("b_key"),
        lit(1).as("phase"), col("__subtree_size").as("__prio"))

    // (A separate leaf phase on (kind, name, value) is PROVABLY empty: a
    // leaf's subtree hash is exactly that triple, so phase 1's rank join
    // already pairs k-th with k-th per group — leftovers exist only on
    // the surplus side of a group, and re-ranking surpluses can never
    // find a counterpart. The former phase 2 cost two anti-joins, two
    // windows and a 5-key join for zero rows; value-edited leaves pair in
    // phase 4.)
    def unmatched(nodes: DataFrame, m: DataFrame, key: String) =
      nodes.join(m.select(col("doc_id"), col(key)).distinct()
          .withColumnRenamed(key, "node_key"),
        Seq("doc_id", "node_key"), "left_anti")

    // DISTINCT: nested identical subtrees make phase 1 emit the same
    // (a_key, b_key) once per matched ancestor root; phase 3's __npairs
    // counts rows, and duplicate rows inflated the matched-children
    // ratio past 1.0 — licensing same-name and rename matches on
    // single-child evidence
    val m12 = phase1.select("doc_id", "a_key", "b_key").distinct()

    // phase 3: BOTTOM-UP internal matching by matched-children ratio, one
    // pass per tree level from the deepest up (the reference's bottom-up
    // traversal — a parent's ratio must see its children's matches, which
    // themselves may be phase-3). Document roots always match (FMSE's
    // root precondition). Tree depth bounds the loop (XML depth, not data
    // size — each pass is one distributed join round).
    def childCounts(nodes: DataFrame, as: String) = nodes
      .filter(col("parent_key").isNotNull)
      .groupBy(col("doc_id"), col("parent_key").as(as))
      .agg(count(lit(1)).as(s"__n$as"))
    val maxLevelRow = a.select(size(col("ordpath")).as("l"))
      .unionByName(b.select(size(col("ordpath")).as("l")))
      .agg(max(col("l"))).head()
    val maxLevel = if (maxLevelRow.isNullAt(0)) 0 else maxLevelRow.getInt(0)
    val roots3 = unmatched(a.filter(col("parent_key").isNull), m12, "a_key")
      .select(col("doc_id"), col("node_key").as("a_key"), col("ordpath"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("ordpath"))))
      .join(unmatched(b.filter(col("parent_key").isNull), m12, "b_key")
        .select(col("doc_id"), col("node_key").as("b_key"), col("ordpath"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("ordpath")))),
        Seq("doc_id", "__rn"))
      .select(col("doc_id"), col("a_key"), col("b_key"),
        lit(3).as("phase"), lit(0L).as("__prio"))
    var m3 = m12.unionByName(roots3.select("doc_id", "a_key", "b_key"))
      .localCheckpoint(true)
    var phase3 = roots3
    (maxLevel to 1 by -1).foreach { level =>
      val pairParents = m3
        .join(a.select(col("doc_id"), col("node_key").as("a_key"),
          col("parent_key").as("a_parent")), Seq("doc_id", "a_key"))
        .join(b.select(col("doc_id"), col("node_key").as("b_key"),
          col("parent_key").as("b_parent")), Seq("doc_id", "b_key"))
        .filter(col("a_parent").isNotNull && col("b_parent").isNotNull)
        .groupBy(col("doc_id"), col("a_parent"), col("b_parent"))
        .agg(count(lit(1)).as("__npairs"))
      val aInt = unmatched(
          a.filter(col("kind") === "element" && size(col("ordpath")) === level),
          m3, "a_key")
        .select(col("doc_id"), col("node_key").as("a_parent"), col("name").as("__aname"))
      val bInt = unmatched(
          b.filter(col("kind") === "element" && size(col("ordpath")) === level),
          m3, "b_key")
        .select(col("doc_id"), col("node_key").as("b_parent"), col("name").as("__bname"))
      val p3Cand = pairParents
        .join(aInt, Seq("doc_id", "a_parent"))
        .join(bInt, Seq("doc_id", "b_parent"))
        .join(childCounts(a, "a_parent"), Seq("doc_id", "a_parent"))
        .join(childCounts(b, "b_parent"), Seq("doc_id", "b_parent"))
        .withColumn("__ratio",
          col("__npairs") / greatest(col("__na_parent"), col("__nb_parent")))
        .filter(
          (col("__aname") === col("__bname") && col("__ratio") >= minRatio) ||
            // a rename needs stronger, multi-child evidence
            (col("__ratio") >= renameRatio && col("__npairs") >= 2))
      val levelMatches = p3Cand
        .withColumn("__r1", row_number().over(
          Window.partitionBy(col("doc_id"), col("a_parent"))
            .orderBy(col("__ratio").desc, col("b_parent"))))
        .filter(col("__r1") === 1)
        .withColumn("__r2", row_number().over(
          Window.partitionBy(col("doc_id"), col("b_parent"))
            .orderBy(col("__ratio").desc, col("a_parent"))))
        .filter(col("__r2") === 1)
        .select(col("doc_id"), col("a_parent").as("a_key"), col("b_parent").as("b_key"),
          lit(3).as("phase"), lit(0L).as("__prio"))
      // truncate lineage: the accumulated match set is referenced several
      // times per level — without materialization the plan nests
      // exponentially in tree depth and the optimizer, not the data,
      // becomes the bottleneck
      val mat = levelMatches.localCheckpoint(true)
      phase3 = phase3.unionByName(mat)
      m3 = m3.unionByName(mat.select("doc_id", "a_key", "b_key"))
        .localCheckpoint(true)
    }

    // phase 5: CONTEXT matching top-down — unmatched elements under
    // matched parents pair by name in document order (FMSE's label match
    // when child evidence is absent: empty wrappers, structural shells).
    // Top-down so nested shells chain level by level.
    var m35 = m3
    val p5Parts = (2 to maxLevel).map { level =>
      val parentPairs = m35.select(col("doc_id"),
        col("a_key").as("a_parent"), col("b_key").as("b_parent"))
      def els(nodes: DataFrame, key: String, parentAs: String) =
        unmatched(nodes.filter(col("kind") === "element" &&
            size(col("ordpath")) === level), m35, key)
          .select(col("doc_id"), col("node_key"), col("name"),
            col("parent_key").as(parentAs), col("ordpath"))
      val a5 = els(a, "a_key", "a_parent")
        .join(parentPairs, Seq("doc_id", "a_parent"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("doc_id"), col("a_parent"), col("b_parent"),
            col("name")).orderBy(col("ordpath"))))
      val b5 = els(b, "b_key", "b_parent")
        .join(parentPairs, Seq("doc_id", "b_parent"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("doc_id"), col("a_parent"), col("b_parent"),
            col("name")).orderBy(col("ordpath"))))
      val p5 = a5.select(col("doc_id"), col("a_parent"), col("b_parent"),
          col("name"), col("__rn"), col("node_key").as("a_key"))
        .join(b5.select(col("doc_id"), col("a_parent"), col("b_parent"),
          col("name"), col("__rn"), col("node_key").as("b_key")),
          Seq("doc_id", "a_parent", "b_parent", "name", "__rn"))
        .select(col("doc_id"), col("a_key"), col("b_key"),
          lit(5).as("phase"), lit(0L).as("__prio"))
      val mat = p5.localCheckpoint(true)
      m35 = m35.unionByName(mat.select("doc_id", "a_key", "b_key"))
        .localCheckpoint(true)
      mat
    }

    // phase 4: VALUE-agnostic leaf pairing under matched parents — an
    // edited text node or attribute value matches its positional
    // counterpart and surfaces as an `update` op (FMSE's leaf value
    // similarity, simplified to same-slot-under-matched-parent)
    val m123 = m35
    val parentPairs123 = m123.select(col("doc_id"),
      col("a_key").as("a_parent"), col("b_key").as("b_parent"))
    def leaf4(nodes: DataFrame, m: DataFrame, key: String, parentAs: String) =
      unmatched(nodes.filter(col("kind") =!= "element"), m, key)
        .select(col("doc_id"), col("node_key"), col("kind"),
          coalesce(col("name"), lit("")).as("name"), // text nodes: null name
          col("parent_key").as(parentAs), col("ordpath"))
    val a4 = leaf4(a, m123, "a_key", "a_parent")
      .join(parentPairs123, Seq("doc_id", "a_parent"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id"), col("a_parent"), col("b_parent"),
          col("kind"), col("name")).orderBy(col("ordpath"))))
    val b4 = leaf4(b, m123, "b_key", "b_parent")
      .join(parentPairs123, Seq("doc_id", "b_parent"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id"), col("a_parent"), col("b_parent"),
          col("kind"), col("name")).orderBy(col("ordpath"))))
    val phase4 = a4.select(col("doc_id"), col("a_parent"), col("b_parent"),
        col("kind"), col("name"), col("__rn"), col("node_key").as("a_key"))
      .join(b4.select(col("doc_id"), col("a_parent"), col("b_parent"),
        col("kind"), col("name"), col("__rn"), col("node_key").as("b_key")),
        Seq("doc_id", "a_parent", "b_parent", "kind", "name", "__rn"))
      .select(col("doc_id"), col("a_key"), col("b_key"),
        lit(4).as("phase"), lit(0L).as("__prio"))

    // combine 1-1: earlier phase, then larger subtree, wins on each side
    val all = (Seq(phase1, phase3, phase4) ++ p5Parts).reduce(_ unionByName _)
    all
      .withColumn("__d1", row_number().over(Window.partitionBy(col("doc_id"), col("a_key"))
        .orderBy(col("phase"), col("__prio").desc, col("b_key"))))
      .filter(col("__d1") === 1)
      .withColumn("__d2", row_number().over(Window.partitionBy(col("doc_id"), col("b_key"))
        .orderBy(col("phase"), col("__prio").desc, col("a_key"))))
      .filter(col("__d2") === 1)
      .select("doc_id", "a_key", "b_key", "phase")
  }

  /** Edit script from a match set: `(doc_id, op, a_key, b_key)` with op ∈
    * delete (a unmatched), insert (b unmatched), update (matched, value or
    * name differs), move (matched, parents not matched to each other) —
    * the reference's edit-operation classes (FMSE.java's
    * insert/delete/update/move emission). A node can be both updated and
    * moved; it appears once per applicable op. */
  def editScript(a: DataFrame, b: DataFrame, matches: DataFrame): DataFrame = {
    // materialized once (one job): the match set is read four times
    // below, and inlined each read carried matchTrees' whole plan into
    // every stage's task binary — 30 to 63 MiB each for a ~20-node tree
    val m = matches.select("doc_id", "a_key", "b_key").localCheckpoint(true)
    val deletes = a.join(m.withColumnRenamed("a_key", "node_key"),
        Seq("doc_id", "node_key"), "left_anti")
      .select(col("doc_id"), lit("delete").as("op"),
        col("node_key").as("a_key"), lit(null).cast("long").as("b_key"))
    val inserts = b.join(m.withColumnRenamed("b_key", "node_key"),
        Seq("doc_id", "node_key"), "left_anti")
      .select(col("doc_id"), lit("insert").as("op"),
        lit(null).cast("long").as("a_key"), col("node_key").as("b_key"))
    val paired = m
      .join(a.select(col("doc_id"), col("node_key").as("a_key"),
        col("parent_key").as("a_parent"), col("name").as("a_name"),
        col("value").as("a_value")), Seq("doc_id", "a_key"))
      .join(b.select(col("doc_id"), col("node_key").as("b_key"),
        col("parent_key").as("b_parent"), col("name").as("b_name"),
        col("value").as("b_value")), Seq("doc_id", "b_key"))
    val updates = paired
      .filter(!(col("a_value") <=> col("b_value")) || !(col("a_name") <=> col("b_name")))
      .select(col("doc_id"), lit("update").as("op"), col("a_key"), col("b_key"))
    val parentPairs = m.select(col("doc_id"), col("a_key").as("a_parent"),
      col("b_key").as("b_parent"))
    val moves = paired
      .filter(col("a_parent").isNotNull && col("b_parent").isNotNull)
      .join(parentPairs, Seq("doc_id", "a_parent", "b_parent"), "left_anti")
      .select(col("doc_id"), lit("move").as("op"), col("a_key"), col("b_key"))
    deletes.unionByName(inserts).unionByName(updates).unionByName(moves)
  }
}
