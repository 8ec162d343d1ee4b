package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** X122d pins for [[ReplicatedRows]] (q318):
  *  - the partition law: for EVERY choice of failed node, the failover
  *    selection returns exactly the original row multiset (each row
  *    once, from a surviving copy) — the property every downstream
  *    pure-function-of-the-set computation rests on;
  *  - co-placement: a given id's rows land on the same (primary,
  *    replica) pair across DIFFERENT stores (codes + adjacency share a
  *    home — the locality claim q318's scaladoc makes);
  *  - traversal invariance: a layered beam search over the failover
  *    selection equals the single-copy search for EVERY failed node on
  *    a planted graph (iterative reads — one lost row changes paths,
  *    so this is not implied by any single-scan argument);
  *  - copy agreement: every verb leaves the replica, re-keyed to its
  *    origin, equal to the primary as a multiset.
  */
class ReplicatedRowsSpec extends SparkSpecBase {
  import spark.implicits._

  // planted vectors: 60 ids, 4-dim integer grid
  private val vqRows = (0L until 60L).map { i =>
    (i, Seq.tabulate(4)(d => 1000L + (i * 13 + d * 7) % 90))
  }
  private def vq = vqRows.toDF("vec_id", "xq")
  // planted graph: ring + skip edges (connected, deterministic)
  private val edgeRows = (0L until 60L).flatMap { v =>
    Seq((v, (v + 1) % 60), (v, (v + 7) % 60), (v, (v + 19) % 60))
  }
  private def edges = edgeRows.toDF("v", "u")

  test("partition law: failover returns the exact original row " +
    "multiset for EVERY failed node") {
    val (p, r) = ReplicatedRows.build(edges, "v", 4)
    val want = edgeRows.sorted
    for (x <- 0L until 4L) {
      val got = ReplicatedRows.failover(p, r, x)
        .collect().map(row => (row.getLong(0), row.getLong(1)))
        .toSeq.sorted
      assert(got === want, s"failover of node $x lost or duplicated rows")
    }
  }

  test("co-placement: an id's rows share their (primary, replica) " +
    "pair across stores (codes and adjacency live together)") {
    val (vqP, _) = ReplicatedRows.build(vq, "vec_id", 4)
    val (eP, _) = ReplicatedRows.build(edges, "v", 4)
    val vqHome = vqP.select($"vec_id", $"shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    eP.select($"v", $"shard").collect().foreach { r =>
      assert(vqHome(r.getLong(0)) === r.getLong(1),
        s"vertex ${r.getLong(0)}'s adjacency landed off its codes' node")
    }
  }

  test("traversal invariance: the beam search over the failover " +
    "selection equals the single-copy search for EVERY failed node") {
    val queries = vq.filter($"vec_id" % 17 === 3)
      .select($"vec_id".as("q_id"), $"xq")
    val entries = vq.filter($"vec_id" === 0).select($"vec_id".as("id"))
    def run(vqf: org.apache.spark.sql.DataFrame,
        ef: org.apache.spark.sql.DataFrame) =
      GraphAnn.beamSearch(vqf, "vec_id", ef, queries, entries,
        beam = 3, rounds = 3, k = 3)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
        .toSeq.sorted
    val base = run(vq, edges)
    assert(base.nonEmpty, "empty baseline traversal")
    val (vqP, vqR) = ReplicatedRows.build(vq, "vec_id", 4)
    val (eP, eR) = ReplicatedRows.build(edges, "v", 4)
    for (x <- 0L until 4L) {
      val got = run(ReplicatedRows.failover(vqP, vqR, x),
        ReplicatedRows.failover(eP, eR, x))
      assert(got === base, s"failover of node $x changed the traversal")
    }
  }

  private def pSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet
  private def idHome(df: org.apache.spark.sql.DataFrame, id: String,
      key: String) =
    df.select(col(id), col(key)).distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("recoverLost (q320): recovered == from-scratch build at S-1 as " +
    "a SET, both stores; promotion law; the recovered topology " +
    "survives a SECOND failover") {
    val (p, r) = ReplicatedRows.build(edges, "v", 4)
    val (p2, r2) = ReplicatedRows.recoverLost(p, r, "v", 4)
    val (wp, wr) = ReplicatedRows.build(edges, "v", 3)
    assert(pSet(p2) === pSet(wp),
      "recovered primary store != from-scratch 3-ring build")
    assert(pSet(r2) === pSet(wr),
      "recovered replica store != from-scratch 3-ring build")
    // promotion law: every lost-primary id's new primary IS its old
    // replica node
    val oldRepl = idHome(r, "v", "node")
    val lostIds = idHome(p, "v", "shard").filter(_._2 == 3L).keySet
    val newPrim = idHome(p2, "v", "shard")
    lostIds.foreach { id =>
      assert(newPrim(id) === oldRepl(id),
        s"id $id did not promote to its old replica node")
    }
    // redundancy restored: a SECOND loss still partitions the rows
    val want = edgeRows.sorted
    for (x <- 0L until 3L) {
      val got = ReplicatedRows.failover(p2, r2, x)
        .collect().map(row => (row.getLong(0), row.getLong(1)))
        .toSeq.sorted
      assert(got === want,
        s"second failover of node $x lost or duplicated rows")
    }
  }

  test("grow (q321): grown == from-scratch build at S+1 as a SET; the " +
    "move classes hold; grow then recoverLost round-trips") {
    val (p, r) = ReplicatedRows.build(edges, "v", 4)
    val (p2, r2) = ReplicatedRows.grow(p, r, "v", 4)
    val (wp, wr) = ReplicatedRows.build(edges, "v", 5)
    assert(pSet(p2) === pSet(wp),
      "grown primary store != from-scratch 5-ring build")
    assert(pSet(r2) === pSet(wr),
      "grown replica store != from-scratch 5-ring build")
    // class laws: a moved primary lands on the NEW shard and its old
    // primary becomes its replica; a moved replica lands on the new shard
    val oldP = idHome(p, "v", "shard"); val newP = idHome(p2, "v", "shard")
    val oldR = idHome(r, "v", "node");  val newR = idHome(r2, "v", "node")
    oldP.keys.foreach { id =>
      if (newP(id) != oldP(id)) {
        assert(newP(id) === 4L, s"moved primary of $id not on new shard")
        assert(newR(id) === oldP(id),
          s"moved-primary id $id's replica is not its old primary")
      } else if (newR(id) != oldR(id))
        assert(newR(id) === 4L, s"moved replica of $id not on new shard")
    }
    // round trip: grow(4->5) then recoverLost(5->4) == the 4-ring build
    val (p3, r3) = ReplicatedRows.recoverLost(p2, r2, "v", 5)
    assert(pSet(p3) === pSet(p) && pSet(r3) === pSet(r),
      "grow then recoverLost did not round-trip to the 4-ring build")
  }

  test("takedown + append (q321): maintained == from-scratch build " +
    "over the post-maintenance row set; unknown ids are no-ops; " +
    "appended rows of an existing id land on its established homes") {
    val (p, r) = ReplicatedRows.build(edges, "v", 4)
    val dead = Seq(5L, 17L, 40L)
    val (p2, r2) = ReplicatedRows.takedown(p, r, "v", dead.toDF("v"))
    val survivors = edgeRows.filterNot(e => dead.contains(e._1))
    val (wp, wr) = ReplicatedRows.build(survivors.toDF("v", "u"), "v", 4)
    assert(pSet(p2) === pSet(wp) && pSet(r2) === pSet(wr),
      "takedown != from-scratch build over survivors")
    val (pN, rN) = ReplicatedRows.takedown(p, r, "v", Seq(999L).toDF("v"))
    assert(pSet(pN) === pSet(p) && pSet(rN) === pSet(r),
      "unknown-id takedown was not a no-op")
    // append: extra edges for existing vertices + a novel vertex
    val extra = Seq((3L, 30L), (3L, 31L), (77L, 2L))
    val (p3, r3) = ReplicatedRows.append(p, r, extra.toDF("v", "u"), "v", 4)
    val (wp3, wr3) = ReplicatedRows.build(
      (edgeRows ++ extra).toDF("v", "u"), "v", 4)
    assert(pSet(p3) === pSet(wp3) && pSet(r3) === pSet(wr3),
      "append != from-scratch build over the grown row set")
    val home = idHome(p, "v", "shard")
    val homeAfter = idHome(p3, "v", "shard")
    assert(homeAfter(3L) === home(3L),
      "an appended edge moved an existing vertex's home")
  }

  test("failoverServing (q322): the routed selection partitions the " +
    "rows with the serving node retained — node != failed everywhere, " +
    "and a failed primary's rows serve from its replica node") {
    val (p, r) = ReplicatedRows.build(edges, "v", 4)
    val prim = idHome(p, "v", "shard")
    val repl = idHome(r, "v", "node")
    val want = edgeRows.sorted
    for (x <- 0L until 4L) {
      val sel = ReplicatedRows.failoverServing(p, r, x).collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
      assert(sel.map(t => (t._2, t._3)).toSeq.sorted === want,
        s"failoverServing of node $x lost or duplicated rows")
      sel.foreach { case (node, v, _) =>
        assert(node !== x, s"node $x still served a row with $x down")
        assert(node === (if (prim(v) == x) repl(v) else prim(v)),
          s"row of vertex $v served from the wrong node with $x down")
      }
    }
  }

  test("update (q332): updated == from-scratch build over the " +
    "post-update rows; payloads swap at established homes; upsert " +
    "ids place fresh") {
    val (p, r) = ReplicatedRows.build(edges, "v", 4)
    // replace vertex 7's adjacency wholesale + upsert a novel vertex
    val newRows = Seq((7L, 50L), (7L, 51L), (88L, 3L)).toDF("v", "u")
    val (p2, r2) = ReplicatedRows.update(p, r, newRows, "v", 4)
    val post = edgeRows.filterNot(_._1 == 7L) ++
      Seq((7L, 50L), (7L, 51L), (88L, 3L))
    val (wp, wr) = ReplicatedRows.build(post.toDF("v", "u"), "v", 4)
    assert(pSet(p2) === pSet(wp) && pSet(r2) === pSet(wr),
      "update != from-scratch build over post-update rows")
    assert(idHome(p2, "v", "shard")(7L) === idHome(p, "v", "shard")(7L),
      "an update moved vertex 7's home")
  }

  test("build fails fast on payload columns colliding with placement " +
    "keys") {
    for (key <- Seq("shard", "p")) {
      val bad = Seq((1L, 2L)).toDF("v", key)
      val e = intercept[IllegalArgumentException] {
        ReplicatedRows.build(bad, "v", 4)
      }
      assert(e.getMessage.contains("collide"), s"payload column $key")
    }
  }

  test("copy agreement: after every verb the replica re-keyed to its " +
    "origin equals the primary as a multiset") {
    val (p, r) = ReplicatedRows.build(edges, "v", 4)
    // (3, 4) repeats an existing edge, so the check is a multiset one
    val extra = Seq((3L, 4L), (3L, 30L), (77L, 2L)).toDF("v", "u")
    val verbs = Seq(
      "build" -> ((p, r)),
      "append" -> ReplicatedRows.append(p, r, extra, "v", 4),
      "update" -> ReplicatedRows.update(p, r,
        Seq((7L, 50L), (88L, 3L)).toDF("v", "u"), "v", 4),
      "takedown" -> ReplicatedRows.takedown(p, r, "v",
        Seq(5L, 17L, 999L).toDF("v")),
      "grow" -> ReplicatedRows.grow(p, r, "v", 4),
      "recoverLost" -> ReplicatedRows.recoverLost(p, r, "v", 4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        .toSeq.sorted
    for ((verb, (p2, r2)) <- verbs) {
      val prim = rows(p2.select($"shard", $"v", $"u"))
      assert(prim.nonEmpty, s"$verb left an empty primary")
      assert(rows(r2.select($"origin", $"v", $"u")) === prim,
        s"after $verb the replica's payloads diverge from the primary's")
    }
  }
}
