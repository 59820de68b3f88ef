package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.Edge
import graft.graph.GraphOps

/** M11 reciprocity clustering — the reference's experimental alternative
  * partitioning (scripts/reciprocity_clustering.py:94-154): nodes INVITE the
  * neighbor community they most want to join; communities joined by MUTUAL
  * invitations merge; iterate to a fixpoint.
  *
  * Fidelity note (SURVEY.md §2.9 M11): the reference script is exploratory
  * and its pairwise-comparison matrix carries a Python truthiness bug
  * (`'=' or '<' in comparison` at reciprocity_clustering.py:33,40 is always
  * true), so its exact matrix semantics are not reproducible even on stock
  * igraph. The engine implements the documented INTENT — iterated
  * reciprocal-invitation fixpoint — with the invitation score being the
  * (weighted) friend count into each neighbor community, i.e. the same
  * gather kernel as the hedonic game at alpha = 0, which the script's
  * friends_in_common machinery approximates two-hop. Merges happen at
  * community granularity via connected components over the mutual-invitation
  * meta-graph (get_membership + merge_common_desires collapse,
  * reciprocity_clustering.py:123-135).
  *
  * Scale shape: each round is one gather + argmax (superstep-shaped) plus a
  * CC run on the META-graph (communities, not vertices — shrinks every
  * round). Rounds strictly decrease the community count, so the loop
  * terminates in <= V rounds (in practice a handful).
  */
object Reciprocity {

  /** Per-node invitation: the neighbor community with the highest (weighted)
    * friend count — own community wins ties, then smallest label (the
    * engine's canonical tie-break). Returns (id, curComm, pref). */
  def invitations(sym: DataFrame, members: DataFrame,
                  weighted: Boolean = false): DataFrame =
    Hedonic.gather(sym, members, weighted)
      .join(members.select(col("id"), col("community").as("curComm")), Seq("id"))
      .withColumn("isCur", col("community") === col("curComm"))
      .groupBy("id").agg(
        max(struct(
          col("friends").cast("double").as("friends"),
          col("isCur").cast("int").as("ic"),
          (-col("community")).as("negc"),
          col("community").as("comm"))).as("b"),
        first(col("curComm")).as("curComm"))
      .select(col("id"), col("curComm"), col("b.comm").as("pref"))

  /** Mutual-invitation meta-edges: community pair (ca < cb) such that some
    * edge (u, v) has u inviting v's community AND v inviting u's community
    * (reciprocal_pairs, reciprocity_clustering.py:112-117, lifted to
    * community granularity). */
  def mutualPairs(sym: DataFrame, members: DataFrame,
                  weighted: Boolean = false): DataFrame = {
    val inv = invitations(sym, members, weighted)
    val iu = inv.select(col("id").as("src"), col("curComm").as("cu"), col("pref").as("pu"))
    val iv = inv.select(col("id").as("dst"), col("curComm").as("cv"), col("pref").as("pv"))
    sym.select("src", "dst").join(iu, Seq("src")).join(iv, Seq("dst"))
      .filter(col("pu") === col("cv") && col("pv") === col("cu") && col("cu") =!= col("cv"))
      .select(least(col("cu"), col("cv")).as("ca"), greatest(col("cu"), col("cv")).as("cb"))
      .distinct()
  }

  /** Iterated reciprocal-invitation fixpoint (network_partitioning,
    * reciprocity_clustering.py:136-154): from singletons, merge mutually
    * inviting communities (transitively, via CC on the meta-graph) until no
    * mutual invitation remains. */
  def run(edges: Dataset[Edge], maxRounds: Int = 20,
          weighted: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = GraphOps.symPairs(edges, weighted).persist()
    sym.count()
    var members = GraphOps.vertices(edges)
      .select(col("id"), col("id").as("community"))
      .transform(graft.io.Iterate.pin)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val meta = mutualPairs(sym, members, weighted)
        .select(col("ca").as("src"), col("cb").as("dst"), lit(1.0).as("weight"))
        .as[Edge]
      if (meta.isEmpty) done = true
      else {
        // merge each mutual cluster: community -> min community reachable
        // over the meta-graph (CC labels are min ids — ConnectedComponents).
        val relabel = ConnectedComponents.run(meta)
          .select(col("id").as("community"), col("comp").as("newComm"))
        members = graft.io.Iterate.pin(
          members.join(relabel, Seq("community"), "left")
            .select(col("id"),
              coalesce(col("newComm"), col("community")).as("community")))
      }
      round += 1
    }
    sym.unpersist()
    members
  }

  /** F3 resolution thresholds (resolution_threshold,
    * reciprocity_clustering.py:16-23): for each node and each pair of its
    * candidate communities (a < b), the resolution at which preference
    * flips: (friends_a - friends_b) / (strangers_a + strangers_b), null on
    * zero denominator (the reference catches ZeroDivisionError -> None;
    * try_divide mirrors it). */
  def resolutionThresholds(sym: DataFrame, members: DataFrame): DataFrame = {
    val sizes = members.groupBy("community").agg(count(lit(1)).as("csize"))
    val cur = members.select(col("id"), col("community").as("curComm"))
    val cand = Hedonic.gather(sym, members)
      .join(broadcast(sizes), Seq("community"))
      .join(cur, Seq("id"))
      .withColumn("strangers",
        col("csize") - col("friends") -
          when(col("community") === col("curComm"), 1L).otherwise(0L))
      .select(col("id"), col("community"), col("friends"), col("strangers"))
    val a = cand.select(col("id"), col("community").as("ca"),
      col("friends").as("fa"), col("strangers").as("sa"))
    val b = cand.select(col("id"), col("community").as("cb"),
      col("friends").as("fb"), col("strangers").as("sb"))
    a.join(b, Seq("id")).filter(col("ca") < col("cb"))
      .withColumn("threshold",
        round(try_divide((col("fa") - col("fb")).cast("double"),
          (col("sa") + col("sb")).cast("double")), 6))
      .select(col("id"), col("ca"), col("cb"), col("fa"), col("fb"),
        col("sa"), col("sb"), col("threshold"))
  }
}
