package graft.link

import graft.core.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components / union-find over DataFrames — iterative min-label
  * propagation to fixpoint (the union-find named in BASELINE.json
  * north_rule; reference semantics: transitive closure of the fuzzy-match
  * graph, eschergraph/tools/fuzzy_matcher.py:79-131).
  *
  * Input: `vertices(key, v)` and undirected `edges(key, a, b)`; `key`
  * scopes independent graphs (here: doc_id), so labels never cross keys
  * and the shuffle partitioning by (key, vertex) is skew-free even when
  * one entity name is globally hot.
  *
  * Each iteration propagates the minimum label one hop and cuts the
  * accumulated plan at a persisted materialization (Scope.cut:
  * plan truncated, RDD lineage kept — cluster-safe, unlike localCheckpoint
  * whose blocks are unrecoverable if a remote fetch fails); convergence is
  * detected via a
  * changed-row count. Iterations are bounded by component diameter —
  * alias clusters and per-doc relation graphs are shallow, so this
  * converges in a handful of rounds regardless of corpus size. (At truly
  * adversarial diameters, swap in large-star/small-star with the same
  * contract.)
  */
object ConnectedComponents {

  /** Returns (key, v, component) with component = min label (string order)
    * over the vertex's component, one row per DECLARED vertex. Edge
    * endpoints absent from `vertices` still BRIDGE (they join components,
    * exactly as in [[runPerKey]]'s union-find) but are not emitted.
    *
    * Superseded iteration caches are freed deterministically (only the
    * final labels stay persisted for the consumer, registered with the
    * current [[graft.core.Scope]]); on non-convergence at
    * `maxIter` the partial labels are still returned — one component may
    * be reported as several — with a loud stderr warning, since silently
    * splitting a component would corrupt dedup groups downstream. */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // adjacency in both directions, deduped
    val adj = Scope.cut(
      edges.select(col("key"), col("a"), col("b"))
        .union(edges.select(col("key"), col("b").as("a"), col("a").as("b")))
        .distinct()).df

    // declared vertices + ghost endpoints (decl=false), so bridging through
    // an undeclared endpoint matches runPerKey's union-find semantics
    val init = vertices.select(col("key"), col("v"), lit(true).as("decl"))
      .unionByName(edges.select(col("key"), col("a").as("v"), lit(false).as("decl")))
      .unionByName(edges.select(col("key"), col("b").as("v"), lit(false).as("decl")))
      .groupBy(col("key"), col("v")).agg(max(col("decl")).as("decl"))
      .select(col("key"), col("v"), col("v").as("label"), col("decl"))
    var labelsCut = Scope.cut(init).df
    var labels = labelsCut
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = adj
        .join(labels, adj("key") === labels("key") && adj("a") === labels("v"))
        .groupBy(adj("key").as("nk"), adj("b").as("nv"))
        .agg(min(col("label")).as("nbr_label"))
      val updated = labels
        .join(nbrMin, labels("key") === col("nk") && labels("v") === col("nv"), "left")
        .select(
          labels("key"),
          labels("v"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("new_label"),
          labels("decl"),
          (col("nbr_label").isNotNull && col("nbr_label") < col("label")).as("changed"))
      val t0 = System.nanoTime()
      // changed-row probe folded into the materializing action itself
      // (ordinal 4 = `changed`) — one job per iteration where the round-5
      // loop paid two
      val cp = Scope.cut(updated, flagOrdinal = 4)
      Scope.free(labelsCut) // superseded; cp holds the data
      labelsCut = cp.df
      labels = cp.df.select(col("key"), col("v"), col("new_label").as("label"), col("decl"))
      converged = cp.flagged == 0L
      iter += 1
      if (sys.env.contains("GRAFT_STAGE_TIMING"))
        System.err.println(f"[cc-timing] iter=$iter changed=${cp.flagged > 0} ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    Scope.free(adj)
    if (!converged)
      System.err.println(s"[graft] WARNING: connected components did NOT converge in " +
        s"$maxIter iterations — a component with diameter > $maxIter is split into " +
        s"several labels; raise maxIter (or use large-star/small-star) for this graph")
    labels.filter(col("decl")).select(col("key"), col("v"), col("label").as("component"))
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond", public algorithm) —
    * the alternating star-contraction whose round count is O(log² n)
    * on ANY graph, vs [[run]]'s min-label propagation whose rounds equal
    * the component diameter. Same contract as [[run]]: (vertices(key,v),
    * edges(key,a,b)) → (key, v, component) with component = min member,
    * ghost endpoints bridge but are not emitted. This is the path for
    * graphs whose diameter is NOT bounded by construction (corpus-global
    * linking chains); per-document graphs keep using [[runPerKey]].
    *
    * Each round is two (groupBy + join) passes over the current pair set:
    *   large-star: every neighbor v > u re-attaches to m = min(Γ(u) ∪ {u});
    *   small-star: every neighbor (all < u after large-star) plus u itself
    *   re-attaches to the minimum of the closed neighborhood.
    * Pairs stay oriented u > v throughout, so the evolving relation is a
    * canonical set and the fixpoint test is an exact set compare of two
    * cached iterations, not a checksum. At fixpoint the relation is a
    * star: every non-root points directly at its component minimum. */
  def runBigStar(vertices: DataFrame, edges: DataFrame, maxIter: Int = 40): DataFrame = {
    // canonical orientation u > v; self-loops dropped; set semantics
    val init = edges
      .select(col("key"), greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // stage-cut counts ride the materializing action (no second count job)
    val first = Scope.cut(init)
    var p = first.df
    var prevCount = first.rows
    var iter = 0
    var converged = prevCount == 0L
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      // LARGE-STAR over bidirectional neighborhoods. m <= u < v for every
      // emitted (v, m), so the u > v orientation is preserved by renaming.
      val nbrs = p.select(col("key"), col("u"), col("v"))
        .union(p.select(col("key"), col("v").as("u"), col("u").as("v")))
      val lmin = nbrs.groupBy("key", "u").agg(min("v").as("mv"))
        .select(col("key"), col("u"), least(col("mv"), col("u")).as("m"))
      // NOT deduplicated (no self-pair guard needed: m <= u < v
      // throughout): the two consumers below are duplicate-insensitive —
      // smin is a min-aggregate and the join's output feeds small's own
      // canonicalizing distinct — so a distinct here would buy nothing
      // semantically and cost a full (key, u, v)-keyed exchange per
      // iteration. Duplicate multiplicity of a (v, m) row is bounded by
      // how many large-star hubs re-attach v to the same m in one round;
      // those extra rows ride two cheap exchanges and collapse at the
      // aggregates.
      val large = nbrs.join(lmin, Seq("key", "u"))
        .filter(col("v") > col("u"))
        .select(col("key"), col("v").as("u"), col("m").as("v"))
      // SMALL-STAR: after large-star every neighbor of u is < u, so the
      // closed-neighborhood minimum is just min(v); u itself re-attaches.
      val smin = large.groupBy("key", "u").agg(min("v").as("m"))
      val small = large.join(smin, Seq("key", "u"))
        .select(col("key"), col("v").as("x"), col("m"))
        .union(smin.select(col("key"), col("u").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("key"), col("x").as("u"), col("m").as("v"))
        .distinct()
      val cp = Scope.cut(small)
      // exact set fixpoint: both sides cached, equal counts + empty diff
      // (the except only runs once counts agree — near convergence)
      converged = cp.rows == prevCount && cp.df.except(p).limit(1).count() == 0L
      Scope.free(p)
      p = cp.df; prevCount = cp.rows
      iter += 1
      if (sys.env.contains("GRAFT_STAGE_TIMING"))
        System.err.println(f"[cc-bigstar] iter=$iter pairs=${cp.rows} ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    if (!converged)
      System.err.println(s"[graft] WARNING: large-star/small-star did NOT reach its " +
        s"fixpoint in $maxIter rounds — labels may split a component; raise maxIter")
    // fixpoint relation is a star (u → component min); roots and isolated
    // declared vertices label themselves. min() guards a non-converged
    // partial relation where u could still carry several parents.
    val lbl = p.groupBy("key", "u").agg(min("v").as("m"))
      .select(col("key"), col("u").as("v"), col("m"))
    vertices.select(col("key"), col("v"))
      .join(lbl, Seq("key", "v"), "left")
      .select(col("key"), col("v"), coalesce(col("m"), col("v")).as("component"))
  }

  /** Per-key exact components in ONE shuffle: groupByKey(key) + local
    * union-find with path compression inside flatMapGroups. Correct and
    * far cheaper than the iterative path whenever a single key's subgraph
    * fits in executor memory — which per-document entity graphs do by
    * construction (a doc has bounded spans → bounded mentions), regardless
    * of corpus size. The iterative [[run]] stays the fallback for graphs
    * with unbounded per-key size (e.g. corpus-global linking).
    *
    * Component label = lexicographic min member, identical to [[run]]'s
    * min-label fixpoint (union-by-min keeps the smaller root, so the root
    * of every tree is its component's minimum).
    */
  def runPerKey(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val vRows = vertices.select(col("key"), col("v").as("a"), lit(null).cast("string").as("b"))
    val eRows = edges.select(col("key"), col("a"), col("b"))
    vRows.union(eRows).as[(String, String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (key: String, rows: Iterator[(String, String, String)]) =>
        val parent = scala.collection.mutable.HashMap[String, String]()
        // edge endpoints absent from the vertex stream BRIDGE components
        // but are not emitted — the same contract as [[run]]
        val declared = scala.collection.mutable.HashSet[String]()
        def add(x: String): Unit = if (!parent.contains(x)) parent(x) = x
        def find(x: String): String = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        rows.foreach { case (_, a, b) =>
          if (b == null) { add(a); declared += a }
          else {
            add(a); add(b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          }
        }
        // SNAPSHOT the keys before emitting: find() path-compresses, i.e.
        // WRITES to `parent`, and scala 2.13 mutable.HashMap.put checks the
        // growth trigger BEFORE probing for the existing key — a value
        // update can therefore RESIZE the table mid-iteration and the live
        // keysIterator silently skips entries. Found as nondeterministic
        // vertex loss (~10 ppm) on multi-executor runs only: shuffle-fetch
        // arrival order varies union order, hence tree depth, hence whether
        // compression fires during emission (DetCheck reproduces; local
        // fetch order never hit the resize boundary).
        val ks = parent.keys.toArray
        ks.iterator.filter(declared).map(v => (key, v, find(v)))
      }
      .toDF("key", "v", "component")
  }

  /** [[runPerKey]] over 64-bit vertex ids: the groupByKey shuffle carries
    * `(key, long, long)` rows instead of name strings — the linker's
    * dictionary-encoded path (names are hashed to ids after the slim name
    * table materializes; strings rejoin from that side table at cluster
    * resolution). Same union-find, same contract: edge endpoints absent
    * from the vertex stream bridge components but are not emitted.
    *
    * Component label = MIN id of the component — deterministic but NOT the
    * lexicographic-min member name (ids are hashes); callers treat labels
    * as opaque grouping keys, which is all the linker's resolution stage
    * ever did with them.
    *
    * Vertex rows ride the same union as edge rows with `b` = the vertex id
    * itself and a marker flag (a typed Dataset of primitive longs cannot
    * carry the string path's `null` sentinel).
    */
  def runPerKeyLong(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val vRows = vertices.select(col("key"), col("v").as("a"), col("v").as("b"),
      lit(true).as("is_v"))
    val eRows = edges.select(col("key"), col("a"), col("b"), lit(false).as("is_v"))
    vRows.union(eRows).as[(String, Long, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (key: String, rows: Iterator[(String, Long, Long, Boolean)]) =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        val declared = new scala.collection.mutable.LongMap[Boolean]()
        def add(x: Long): Unit = if (!parent.contains(x)) parent(x) = x
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        rows.foreach { case (_, a, b, isV) =>
          if (isV) { add(a); declared(a) = true }
          else {
            add(a); add(b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          }
        }
        // snapshot keys before emitting — find() path-compresses (writes),
        // and LongMap, like HashMap, may grow mid-iteration; see the
        // string twin above for the multi-executor row-loss post-mortem
        val ks = new Array[Long](parent.size)
        var i = 0
        parent.foreachKey { k => ks(i) = k; i += 1 }
        ks.iterator.filter(declared.contains).map(v => (key, v, find(v)))
      }
      .toDF("key", "v", "component")
  }
}
