package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** The compressed posting STORE's block algebra (SURVEY.md §2.11a
  * X109, q258): the one module that knows the block layout every keyed
  * text store shares — the single index, the doc-sharded index
  * (q283/q288) and both copies of the replicated index (q294).
  *
  * Layout: a store is `(keys…, term, bucket, df, bytes)`. `keys` are
  * the Long placement columns — none for one index, `shard`
  * for a doc-sharded sub-index, `node, origin` for the replica copy —
  * checked by a `require` on the layout before any job runs. Doc ids
  * bucket by `doc_id DIV 100` ([[bucket]]), so buckets are
  * placement-independent, and each block holds one (keys…, term,
  * bucket)'s `df` postings `(doc_id, tf, first_pos)`, doc ids strictly
  * ascending, as one [[PostingCodec]] byte stream.
  *
  * Four verbs, one body each for every key arity (the keys ride
  * through the typed map as one `array<bigint>`):
  *
  *   - [[encode]] groups postings into blocks;
  *   - [[decode]] is its strict inverse: a block that fails the
  *     canonical decode throws, naming its keys, term and bucket; given
  *     named doc ids, it decodes only their buckets' blocks and returns
  *     only their postings;
  *   - [[merge]] folds segments that hold disjoint doc ids (Lucene's
  *     segment merge, q264): a key held by one block passes through
  *     undecoded, every other key decodes, unions its interleaved doc
  *     ids and re-encodes; a doc id stored twice throws;
  *   - [[drop]] removes doc ids block-locally (q274): only blocks of
  *     buckets holding a dead id decode, the others pass through
  *     byte-untouched, and emptied blocks vanish.
  *
  * The maintained ≡ rebuilt law: gap coding has no layout freedom — a
  * block's bytes are a pure function of its sorted posting set — so a
  * merged store equals a from-scratch [[encode]] over the union corpus,
  * and a dropped store equals one over the survivors, BYTE FOR BYTE.
  * Every maintenance verb composed from these (q264 merge, q274
  * takedown, q305 update, q288/q295 reshard, q299/q302/q304/q315/q319
  * replicated lifecycle, the T31/T37–T44 streams) inherits it, and
  * their oracles replay exactly the from-scratch build.
  *
  * Scale: encode and merge shuffle once on the compact block key, with
  * per-key work bounded by the bucket width (block size is
  * corpus-independent); payload bytes move at block grain. Drop and the
  * named decode group the ids to (scope keys, bucket) arrays and join
  * on that key; their decode cost is |touched blocks| × block width. */
object PostingBlocks {

  private val BlockCols = Seq("term", "bucket", "df", "bytes")
  private val PostingCols = Seq("term", "bucket", "doc_id", "tf", "first_pos")

  /** A block inside the typed maps: (keys, term, bucket, df, bytes). */
  private type Block = (Seq[Long], String, Long, Int, Array[Byte])
  /** A [[Block]] with the named ids of its bucket, if any. */
  private type Named = (Seq[Long], String, Long, Int, Array[Byte],
    Option[Seq[Long]])

  /** The block key of a posting: `doc_id DIV 100`. */
  val bucket: Column = expr("doc_id DIV 100").as("bucket")

  /** Blocks of `(keys…, term, bucket, doc_id, tf, first_pos)`
    * postings: `(keys…, term, bucket, df, bytes)`. Postings of one
    * (keys…, term, bucket) must hold distinct doc ids. */
  def encode(postings: DataFrame): DataFrame = {
    val s = postings.sparkSession
    import s.implicits._
    val keys = keysOf(postings, PostingCols)
    val grouped = postings
      .groupBy((keys :+ "term" :+ "bucket").map(col): _*)
      .agg(sort_array(collect_list(
        struct($"doc_id", $"tf", $"first_pos"))).as("ps"))
    val blocks = packed(grouped, keys, Seq("term", "bucket", "ps"))
      .as[(Seq[Long], String, Long, Seq[(Long, Long, Long)])]
      .map { case (k, t, b, ps) => (k, t, b, ps.size, PostingCodec.encode(ps)) }
    unpacked(blocks.toDF("keys" +: BlockCols: _*), keys, BlockCols)
  }

  /** The `(keys…, term, bucket, doc_id, tf, first_pos)` postings of a
    * block store — strict: a corrupt block throws
    * `IllegalStateException`. */
  def decode(blocks: DataFrame): DataFrame = {
    val s = blocks.sparkSession
    import s.implicits._
    val keys = keysOf(blocks, BlockCols)
    val ps = packed(blocks, keys, BlockCols).as[Block]
      .flatMap { case (k, t, b, n, bytes) =>
        postings(keys, k, t, b, n, bytes)
          .map { case (doc, tf, pos) => (k, t, b, doc, tf, pos) }
      }
    unpacked(ps.toDF("keys" +: PostingCols: _*), keys, PostingCols)
  }

  /** Fold same-layout segments into one store. Segments must hold
    * disjoint doc ids: a doc id stored twice under one key fails the
    * `require` ("overlapping doc ids"), since a merge must never
    * silently duplicate a posting. A one-segment list is returned as
    * is. */
  def merge(segs: Seq[DataFrame]): DataFrame = {
    require(segs.nonEmpty, "PostingBlocks.merge: no segments")
    val keys = keysOf(segs.head, BlockCols)
    segs.tail.foreach { seg =>
      require(keysOf(seg, BlockCols) == keys,
        s"PostingBlocks.merge: segment keys ${seg.columns.mkString(", ")}" +
          s" differ from ${keys.mkString(", ")}")
    }
    if (segs.size == 1) return segs.head
    val s = segs.head.sparkSession
    import s.implicits._
    val merged = packed(segs.reduce(_ unionByName _), keys, BlockCols).as[Block]
      .groupByKey(r => (r._1, r._2, r._3))
      .mapGroups { (key: (Seq[Long], String, Long), rows: Iterator[Block]) =>
        val first = rows.next()
        if (!rows.hasNext) first // held by one block: bytes pass through
        else {
          val (k, t, b) = key
          val all = (Iterator.single(first) ++ rows).flatMap { r =>
            postings(keys, k, t, b, r._4, r._5)
          }.toVector.sortBy(_._1)
          require(all.map(_._1).distinct.size == all.size,
            s"overlapping doc ids in ${at(keys, k, t, b)}")
          (k, t, b, all.size, PostingCodec.encode(all))
        }
      }
    unpacked(merged.toDF("keys" +: BlockCols: _*), keys, BlockCols)
  }

  /** Remove the postings named by `dead` from `store`. `dead` holds
    * `doc_id` plus any of the store's key columns that scope the drop
    * (a mover leaves its OLD shard only); unknown ids are no-ops. */
  def drop(store: DataFrame, dead: DataFrame): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    val (keys, marked) = named(store, dead)
    val cut = marked.flatMap {
      case (k, t, b, n, bytes, None) =>
        Iterator.single((k, t, b, n, bytes)) // no dead id: never decoded
      case (k, t, b, n, bytes, Some(dd)) =>
        val gone = dd.toSet
        val kept = postings(keys, k, t, b, n, bytes)
          .filterNot(p => gone.contains(p._1))
        if (kept.isEmpty) Iterator.empty
        else Iterator.single((k, t, b, kept.size, PostingCodec.encode(kept)))
    }
    unpacked(cut.toDF("keys" +: BlockCols: _*), keys, BlockCols)
  }

  /** [[decode]] restricted to the postings named by `ids` (as [[drop]]'s
    * `dead`): only blocks of buckets holding a named id decode. With
    * the same `ids` it plans the same join as [[drop]], so a verb that
    * moves postings — drops them from their blocks and re-encodes them
    * elsewhere — runs that join once. */
  def decode(store: DataFrame, ids: DataFrame): DataFrame = {
    val s = store.sparkSession
    import s.implicits._
    val (keys, marked) = named(store, ids)
    val ps = marked.flatMap {
      case (_, _, _, _, _, None) => Nil
      case (k, t, b, n, bytes, Some(ii)) =>
        val wanted = ii.toSet
        postings(keys, k, t, b, n, bytes).collect {
          case (doc, tf, pos) if wanted.contains(doc) => (k, t, b, doc, tf, pos)
        }
    }
    unpacked(ps.toDF("keys" +: PostingCols: _*), keys, PostingCols)
  }

  /** `store`'s key columns, and its blocks each with the ids of `ids`
    * (doc_id plus scope keys) that fall in its bucket, if any. */
  private def named(store: DataFrame,
      ids: DataFrame): (Seq[String], Dataset[Named]) = {
    val s = store.sparkSession
    import s.implicits._
    val keys = keysOf(store, BlockCols)
    val scope = ids.columns.filterNot(_ == "doc_id").toSeq
    require(ids.columns.contains("doc_id") && scope.forall(keys.contains),
      s"PostingBlocks: ids (${ids.columns.mkString(", ")}) must be " +
        s"doc_id plus store keys (${keys.mkString(", ")})")
    val byBucket = ids.groupBy(scope.map(col) :+ bucket: _*)
      .agg(collect_set($"doc_id").as("ids"))
    (keys, packed(store.join(byBucket, scope :+ "bucket", "left"), keys,
      BlockCols :+ "ids")
      .as[Named])
  }

  /** The key columns of a `(keys…, tail…)` frame: every column not in
    * `tail`, each a Long. Columns may come in any order (a join puts
    * its keys first); outputs are always `(keys…, tail…)`. */
  private def keysOf(df: DataFrame, tail: Seq[String]): Seq[String] = {
    val keys = df.columns.toSeq.filterNot(tail.contains)
    require(tail.forall(df.columns.contains) &&
      keys.forall(k => df.schema(k).dataType == LongType),
      s"PostingBlocks: expected (Long keys…, ${tail.mkString(", ")}), " +
        s"got ${df.schema.simpleString}")
    keys
  }

  /** `df`'s key columns as one `keys` array, then `rest`. */
  private def packed(df: DataFrame, keys: Seq[String],
      rest: Seq[String]): DataFrame =
    df.select(array(keys.map(col): _*).cast(ArrayType(LongType)).as("keys")
      +: rest.map(col): _*)

  /** [[packed]]'s inverse: the `keys` array back to named columns. */
  private def unpacked(df: DataFrame, keys: Seq[String],
      rest: Seq[String]): DataFrame =
    df.select(keys.indices.map(i => col("keys")(i).as(keys(i)))
      ++ rest.map(col): _*)

  private def at(keys: Seq[String], k: Seq[Long], t: String, b: Long) =
    keys.zip(k).map { case (n, v) => s"$n=$v " }.mkString +
      s"term='$t' bucket=$b"

  private def postings(keys: Seq[String], k: Seq[Long], t: String, b: Long,
      n: Int, bytes: Array[Byte]): Seq[(Long, Long, Long)] =
    PostingCodec.decode(bytes, n).getOrElse(throw new IllegalStateException(
      s"corrupt block ${at(keys, k, t, b)}"))
}
