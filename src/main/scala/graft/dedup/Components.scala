package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a candidate-pair edge list —
  * the principled "dedup group" operator: after LSH/SimHash produces
  * near-duplicate PAIRS, transitive closure turns pairs into CLUSTERS
  * so exactly one representative per cluster survives (pairwise greedy
  * dropping can orphan chain members; components cannot).
  *
  * Algorithm: iterative min-label propagation (the Pregel/GraphX
  * formulation re-expressed relationally). Each superstep is one
  * shuffle-light join + map-side-combined `min` aggregation:
  *
  *   label(v) <- min(label(v), min over neighbors u of label(u))
  *
  * Supersteps needed = graph diameter. Near-dup clusters are stars and
  * short chains (diameter ≤ a few hops), so convergence is fast; for
  * adversarially long chains the alternating large-star/small-star
  * variant (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) converges in O(log n) supersteps — same join+min
  * building blocks, different edge rewiring — and is the drop-in
  * upgrade if diameters ever get large.
  *
  * Scale notes (the 100 TB shape):
  *  - the edge list is cached once and reused every superstep; labels
  *    are `localCheckpoint`ed per superstep so the plan does not grow
  *    linearly with iterations (on a real cluster with a checkpoint
  *    dir, prefer reliable `checkpoint` for lineage truncation that
  *    survives executor loss);
  *  - each superstep moves only (id, long) pairs through the shuffle —
  *    no document payloads;
  *  - convergence is detected with one scalar count per superstep (the
  *    standard Pregel voting action; nothing else reaches the driver);
  *  - labels only ever decrease, so the fixpoint is the unique
  *    per-component minimum id — fully deterministic, oracle-exact
  *    (DuckDB spells the same fixpoint as a recursive CTE).
  */
object Components {

  /** Assign every node its component id = the minimum node id reachable
    * from it. `pairs` carries undirected edges as (`aCol`, `bCol`);
    * `nodes` contributes the id universe (so singletons — docs with no
    * near-dup edge — appear with comp = their own id).
    *
    * Returns (`idCol`, "comp") with one row per distinct node.
    */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame, idCol: String,
                          aCol: String = "a_id", bCol: String = "b_id",
                          maxIter: Int = 25): DataFrame = {
    val src = col(aCol).cast("long")
    val dst = col(bCol).cast("long")
    val edges = pairs.select(src.as("src"), dst.as("dst"))
      .union(pairs.select(dst.as("src"), src.as("dst")))
      .cache() // reused every superstep; lineage (LSH pipeline) is the pricey part

    // lazy: the first superstep's count job materializes it (r18)
    var labels = nodes.select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(eager = false)

    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // gather: min neighbor label per node (map-side partial min)
      val gathered = edges
        .join(labels.select(col("id").as("dst"), col("comp")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("nbr_comp"))
      // apply: labels only decrease. prev rides along so convergence is
      // a filter-count over the checkpointed frame — NOT a third
      // shuffle join per superstep against the old labels
      val next = labels.join(gathered, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          col("comp").as("prev"))
        // truncate per-superstep lineage. LAZY (r18): the eager
        // checkpoint ran one job to materialize and the convergence
        // count a second; a lazy checkpoint materializes inside the
        // count job itself — one job per superstep instead of two,
        // identical blocks, identical values
        .localCheckpoint(eager = false)
      changed = next.filter(col("comp") < col("prev")).count()
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter supersteps " +
        "(diameter too large — switch to large-star/small-star)")
    edges.unpersist()
    labels.withColumnRenamed("id", idCol)
  }

  /** One representative per component: the minimum id (== the component
    * label itself). Everything else is a near-duplicate to drop.
    */
  def representatives(components: DataFrame, idCol: String): DataFrame =
    components.filter(col(idCol) === col("comp")).select(idCol)

  /** The alternating large-star/small-star variant (Kiveris et al.,
    * SoCC'14): converges in O(log n) supersteps regardless of graph
    * DIAMETER, where min-label propagation needs diameter supersteps.
    * Near-dup graphs are usually shallow, so [[connectedComponents]] is
    * the default; this is the escape hatch when chains get long (e.g.
    * temporally-drifting near-duplicates forming paths).
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node and its smaller neighbors re-attach to
    *    the minimum among them.
    *
    * Both are one groupBy-min plus one join per round — the same
    * shuffle building blocks as a superstep of min-label, just O(log n)
    * of them. At the fixpoint every component is a star rooted at its
    * minimum id.
    */
  /** Incremental maintenance: fold a NEW batch of nodes and near-dup
    * pairs into an EXISTING component assignment without recomputing
    * from scratch — the daily-crawl-increment path. Each existing
    * component collapses to a STAR around its min-id label
    * ((id, comp) rows ARE edges to the representative), so the prior
    * result replaces the prior edge list: the superstep input is
    * |assignment| + |newPairs| rows, not the full historical edge
    * set, and pre-collapsed components give the propagation a
    * diameter-2 head start. The fixpoint (min reachable id) is
    * identical to a from-scratch run over the union, which is exactly
    * what the oracle and spec assert.
    */
  def incrementalComponents(existing: DataFrame, newPairs: DataFrame,
                            newNodes: DataFrame, idCol: String,
                            aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val starEdges = existing
      .filter(col(idCol).cast("long") =!= col("comp").cast("long"))
      .select(col(idCol).cast("long").as(aCol), col("comp").cast("long").as(bCol))
    val edges = starEdges.union(
      newPairs.select(col(aCol).cast("long"), col(bCol).cast("long")))
    val nodes = existing.select(col(idCol).cast("long").as(idCol))
      .union(newNodes.select(col(idCol).cast("long").as(idCol)))
    connectedComponentsLogStar(edges, nodes, idCol, aCol, bCol)
  }

  def connectedComponentsLogStar(pairs: DataFrame, nodes: DataFrame, idCol: String,
                                 aCol: String = "a_id", bCol: String = "b_id",
                                 maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.functions.{least, greatest}
    def canon(df: DataFrame, a: String, b: String): DataFrame =
      df.filter(col(a) =!= col(b))
        .select(least(col(a), col(b)).as("lo"), greatest(col(a), col(b)).as("hi"))
        .distinct()
    def sym(e: DataFrame): DataFrame =
      e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))

    // lazy: the count below materializes the checkpoint in its own job
    var edges = canon(pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")), "a", "b")
      .localCheckpoint(eager = false)
    var edgesCount = edges.count()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // large-star: (v, m) for every strictly-larger neighbor v of u,
      // m = min(closed neighborhood of u)
      val s = sym(edges)
      val mins = s.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val afterLarge = canon(
        s.filter(col("v") > col("u")).join(mins, "u")
          .select(col("v").as("a"), col("m").as("b")), "a", "b")
      // small-star: u and its smaller neighbors re-attach to their min
      val smaller = sym(afterLarge).filter(col("v") < col("u"))
      val minsS = smaller.groupBy("u").agg(min(col("v")).as("m"))
      val afterSmall = canon(
        smaller.join(minsS, "u").select(col("v").as("a"), col("m").as("b"))
          .union(minsS.select(col("u").as("a"), col("m").as("b"))), "a", "b")
      // LAZY checkpoint (r18): materializes inside the count below —
      // one job per round instead of two (see connectedComponents)
      val next = afterSmall.localCheckpoint(eager = false)
      // both sides are canonical DISTINCT edge sets, so set equality
      // reduces to |next| == |edges| && (next \ edges) = ∅ — one
      // exceptAll shuffle per round instead of two, and the count is
      // free off the checkpoint. This is the flagship cascade's
      // iterative stage; per-round cost is the sensitive term.
      val nextCount = next.count()
      changed =
        if (nextCount != edgesCount) 1L
        else next.exceptAll(edges).count()
      edges = next
      edgesCount = nextCount
      iter += 1
    }
    require(changed == 0,
      s"log-star components did not converge in $maxIter rounds")
    // fixpoint edges are stars rooted at component minima
    val rooted = edges.select(col("hi").as("id"), col("lo").as("comp"))
      .groupBy("id").agg(min(col("comp")).as("comp"))
    nodes.select(col(idCol).cast("long").as("id")).distinct()
      .join(rooted, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Quality-aware representative selection over a component
    * assignment (the FineWeb/CCNet refinement of min-id canon): per
    * near-dup component keep the member with the highest `scoreCol`,
    * ties broken by lowest id — on a crawl the lowest id is often the
    * worst copy (truncated first fetch), so "min-id survives" quietly
    * keeps the junk variant. Input: one row per member with
    * (idCol, compCol, scoreCol). One comp-keyed window + one
    * comp-keyed agg — no shuffle wider than the component assignment
    * itself. Output: comp, n_members, rep_id, rep_quality.
    */
  def qualityReps(scored: DataFrame, idCol: String,
                  compCol: String = "comp",
                  scoreCol: String = "quality"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(compCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val reps = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(compCol), col(idCol).as("rep_id"),
        col(scoreCol).as("rep_quality"))
    scored.groupBy(col(compCol)).agg(count(lit(1)).as("n_members"))
      .join(reps, compCol)
      .select(col(compCol), col("n_members"), col("rep_id"),
        col("rep_quality"))
  }

  // ------------------------------------------------------- DuckDB spelling

  object Sql {
    /** Recursive-CTE fixpoint of the same component definition. Expects
      * CTEs `$pairsRel(a_id, b_id)` and `$nodesRel($id)` in scope; yields
      * a relation (id, comp). The UNION (not UNION ALL) is the fixpoint
      * dedup that guarantees termination.
      */
    def componentsCtes(pairsRel: String, nodesRel: String, id: String): String =
      // edges MUST be MATERIALIZED: the recursive reach CTE scans it
      // every iteration, and an inlined spelling re-evaluates the whole
      // upstream pairs pipeline per superstep (the learnSql lesson —
      // measured >10 min on the m15 sf0.1 stress vs seconds hinted)
      s"""edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM $pairsRel
         |  UNION SELECT b_id, a_id FROM $pairsRel),
         |reach AS (
         |  SELECT $id AS id, $id AS comp FROM $nodesRel
         |  UNION
         |  SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON r.id = e.dst
         |),
         |comps AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)""".stripMargin
  }
}
