package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.functions.GraftFunctions._
import graft.raquet.RaquetMetadata

/** Structured Streaming extensions (SURVEY.md §2.10 — beyond the reference,
  * which is batch-only): continuous tile ingestion and event-time windowed
  * raster aggregation over a `(block, time_ts, band)` stream.
  *
  * Both compose the SAME kernels/expressions as the batch path — a tile
  * stream is just an unbounded raquet table, so `rq_summary_stats` +
  * `rq_stats_merge` run unchanged inside a watermarked streaming aggregate
  * (partial merge in the state store, late data dropped past the
  * watermark).
  */
object StreamingTiles {

  /** Per-user open session: carried in the state store between batches. */
  case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)

  /** One closed session, the streaming twin of a
    * [[graft.operators.Sessions.sessionize]] output row (minus the
    * batch-only session ordinal). */
  case class ClosedSession(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long, total_value: Double)

  /** §2.10: stream-STREAM interval join — each left event pairs with the
    * right-stream events of the same key whose event time lies within
    * [leftTs − windowMinutes, leftTs] (the enrichment join: purchases ←
    * preceding clicks, requests ← preceding auth events). BOTH sides are
    * watermarked and the join condition carries the event-time bound, so
    * Spark's symmetric hash join can expire state: right rows older than
    * watermark − window and left rows older than the watermark drop from
    * the state store — state is O(key-rate × window), never O(stream).
    * Column names must already be disjoint across the two sides. */
  def intervalJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTs: String, rightTs: String,
      windowMinutes: Int, watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r, expr(
      s"""$leftKey = $rightKey AND
          $rightTs BETWEEN $leftTs - INTERVAL $windowMinutes MINUTES
          AND $leftTs"""))
  }

  /** Streaming gap-based sessionization via `flatMapGroupsWithState`
    * (custom state, the §2.10 path Spark reserves for semantics windows
    * can't express): one [[SessionState]] per user in the state store; a
    * session closes — and emits — when a later event arrives past the gap
    * or the event-time timeout fires once the watermark passes
    * lastSeen + gap. State is O(users), not O(events). */
  def sessionize(events: DataFrame, gapMinutes: Int,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    // with delay <= gap, an admitted late event can never be more than one
    // gap behind the open session, so extending the open session backwards
    // (min below) is always the batch-equivalent answer; a longer delay
    // could require retroactively SPLITTING an emitted session
    require(parseDelayMinutes(watermarkDelay) <= gapMinutes,
      s"watermarkDelay $watermarkDelay must not exceed the $gapMinutes-minute gap")
    val gapUs = gapMinutes * 60L * 1000000L
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[ClosedSession]

    def fn(userId: Long, rows: Iterator[Row],
        state: GroupState[SessionState]): Iterator[ClosedSession] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      def close(st: SessionState): Unit =
        out += ClosedSession(userId, st.startUs, st.lastUs, st.n,
          // HALF_UP like Spark's round(sum, 2) in the batch twin — rint
          // (half-even) diverges on exact half-cents
          BigDecimal(st.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      if (rows.isEmpty && state.hasTimedOut) {
        state.getOption.foreach(close)
        state.remove()
      } else {
        // micro-batch events are unordered: sort this batch's slice
        val sorted = rows.map(r =>
          (r.getAs[java.sql.Timestamp]("ts").getTime * 1000L +
            r.getAs[java.sql.Timestamp]("ts").getNanos / 1000 % 1000,
            r.getAs[Double]("value"))).toArray.sortBy(_._1)
        var st = state.getOption.orNull
        sorted.foreach { case (us, v) =>
          st =
            if (st == null) SessionState(us, us, 1, v)
            else if (us - st.lastUs > gapUs) { close(st); SessionState(us, us, 1, v) }
            // min: a cross-batch out-of-order event may precede the open
            // session's start (bounded by the watermark <= gap, see require)
            else SessionState(math.min(st.startUs, us), math.max(st.lastUs, us),
              st.n + 1, st.sum + v)
        }
        if (st != null) {
          state.update(st)
          state.setTimeoutTimestamp(st.lastUs / 1000 + gapMinutes * 60L * 1000)
        }
      }
      out.iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey((r: Row) => r.getAs[Long]("user_id"))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF()
  }

  /** LOUD parse: an unrecognized delay string must fail here rather than
    * silently skip the correctness-critical delay ≤ gap guard (Spark would
    * happily accept e.g. "1 week" as a watermark while the guard's forall
    * vacuously passed on None). */
  private def parseDelayMinutes(delay: String): Double = {
    val m = "([0-9.]+)\\s*(second|minute|hour|day|week)s?".r
      .findFirstMatchIn(delay.trim.toLowerCase)
    require(m.isDefined, s"unsupported watermark delay '$delay' — use " +
      "'<n> seconds|minutes|hours|days|weeks' so the delay <= gap guard can check it")
    val g = m.get
    val v = g.group(1).toDouble
    g.group(2) match {
      case "second" => v / 60
      case "minute" => v
      case "hour" => v * 60
      case "day" => v * 1440
      case "week" => v * 10080
    }
  }

  /** Streaming exact dedup: watermark + dropDuplicates on the id — state
    * holds one entry per id inside the watermark horizon, the streaming
    * twin of the batch exact-dedup groupBy. */
  def dedup(events: DataFrame, idCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** One surviving document per content hash. */
  case class DedupCanonical(content_hash: String, canonical_id: Long)

  /** Streaming first-seen content dedup over a `(doc_id, text)` stream —
    * the streaming twin of the batch exact-dedup groupBy (q26), emitting
    * each distinct content hash ONCE, in the first micro-batch where it
    * appears, with the smallest doc_id of that batch's group as canonical.
    * Deterministic (unlike `dropDuplicates`, which keeps an arbitrary row):
    * later batches are suppressed by a seen-flag in the state store, so the
    * output equals the batch `md5(text) → min(doc_id)` aggregate whenever
    * canonical docs precede their copies in stream order. State is one
    * boolean per distinct hash (the unbounded-retention variant; [[dedup]]
    * above is the watermark-horizon one). */
  def dedupFirstSeen(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    implicit val stateEnc = Encoders.scalaBoolean
    implicit val outEnc = Encoders.product[DedupCanonical]
    def fn(hash: String, rows: Iterator[Row],
        state: GroupState[Boolean]): Iterator[DedupCanonical] =
      if (state.exists) Iterator.empty
      else {
        state.update(true)
        Iterator.single(DedupCanonical(hash,
          rows.map(_.getAs[Long]("doc_id")).min))
      }
    docs
      .withColumn("content_hash", md5(col("text")))
      .groupByKey((r: Row) => r.getAs[String]("content_hash"))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One kept row of the streaming per-key quota. */
  case class QuotaKept(key: String, id: Long, rn: Long)

  /** Streaming per-key quota — the arrival-order twin of
    * [[graft.operators.Curation.quotaPerGroup]]: keep the first `k`
    * records of each key as they arrive, with `rn` recording the
    * admission order. State is ONE counter per key (bounded by distinct
    * keys, not stream length) and admission is append-only — the
    * crawl-frontier politeness cap ("stop fetching a domain once K pages
    * are in"). Rows carry an explicit `seq` arrival index so replays and
    * multi-row micro-batches admit in a deterministic order (a stream
    * that re-batches differently still admits the same rows). */
  def quotaPerKey(rows: DataFrame, keyCol: String, idCol: String,
      seqCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    require(k > 0, s"quota must be positive, got $k")
    implicit val stateEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[QuotaKept]
    def fn(key: String, rows: Iterator[Row],
        state: GroupState[Long]): Iterator[QuotaKept] = {
      var taken = state.getOption.getOrElse(0L)
      val kept = rows.toSeq.sortBy(_.getAs[Long](seqCol)).iterator
        .takeWhile(_ => taken < k)
        .map { r => taken += 1; QuotaKept(key, r.getAs[Long](idCol), taken) }
        .toVector
      state.update(taken)
      kept.iterator
    }
    rows.groupByKey((r: Row) => r.getAs[String](keyCol))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** One streaming SemDeDup verdict row — the twin of a
    * [[graft.operators.EmbedOps.semDedup]] output row. */
  case class SemVerdict(vec_id: Long, bucket: Long,
      max_prior_cos: Option[Double], keep: Boolean)

  /** Per-bucket state: every embedding seen so far (as doubles), with its
    * id. The batch rule compares a vector against ALL smaller ids — kept
    * or dropped — so the whole bucket persists; state is bounded by
    * bucket size, the same Σ per-bucket n² the batch operator pays. */
  case class SemBucketState(ids: Seq[Long], embs: Seq[Seq[Double]])

  /** Streaming SemDeDup: the q158 semantic-dedup verdict as vectors
    * arrive. Keyed on the deterministic hyperplane bucket; within a
    * micro-batch rows are processed in vec_id order, so with id-ordered
    * arrival the verdicts equal the batch operator's EXACTLY (the cosine
    * is the same left-fold double arithmetic, rounded like Spark's
    * `round(_, 6)`). */
  def semDedup(vecs: DataFrame, planes: Int, dim: Int,
      tau: Double): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    implicit val stateEnc = Encoders.product[SemBucketState]
    implicit val outEnc = Encoders.product[SemVerdict]
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      // Spark's round(_, 6) on doubles: decimal HALF_UP via the string
      // representation (BigDecimal.decimal semantics)
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def fn(bucket: Long, rows: Iterator[Row],
        state: GroupState[SemBucketState]): Iterator[SemVerdict] = {
      val prev = state.getOption.getOrElse(SemBucketState(Nil, Nil))
      val seenIds = scala.collection.mutable.ArrayBuffer[Long](prev.ids: _*)
      val seen = scala.collection.mutable.ArrayBuffer[Array[Double]](
        prev.embs.map(_.toArray): _*)
      val out = Seq.newBuilder[SemVerdict]
      rows.toSeq.sortBy(_.getAs[Long]("vec_id")).foreach { r =>
        val id = r.getAs[Long]("vec_id")
        // accept float OR double embedding columns (the batch twin casts in
        // SQL; a hard getSeq[Float] would ClassCastException on doubles)
        val emb = r.getSeq[Any](r.fieldIndex("embedding"))
          .iterator.map {
            case f: java.lang.Float => f.toDouble
            case d: java.lang.Double => d.doubleValue
            case n: Number => n.doubleValue
          }.toArray
        var best = Double.NaN
        var any = false
        seen.foreach { e =>
          val c = cos(e, emb)
          if (!any || c > best) { best = c; any = true }
        }
        out += SemVerdict(id, bucket,
          if (any) Some(best) else None, !any || best < tau)
        seenIds += id
        seen += emb
      }
      state.update(SemBucketState(seenIds.toSeq, seen.map(_.toSeq).toSeq))
      out.result().iterator
    }
    graft.operators.EmbedOps.hyperplaneBuckets(vecs, planes, dim)
      .groupByKey((r: Row) => r.getAs[Long]("bucket"))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Event-time windowed per-block stats: the streaming twin of the batch
    * time-bucket aggregation (q38). One state-store row per (window, block);
    * the exact-merge aggregate keeps state O(1) per key. */
  def windowedStats(tiles: DataFrame, meta: RaquetMetadata, band: String,
      watermarkDelay: String = "2 days", windowLen: String = "1 day"): DataFrame =
    tiles
      .withWatermark("time_ts", watermarkDelay)
      .groupBy(window(col("time_ts"), windowLen), col("block"))
      .agg(rq_stats_merge(rq_summary_stats(col(band), meta, band)).as("stats"))
      .select(col("window.start").as("window_start"), col("block"),
        col("stats.count").as("n_valid"), col("stats.sum").as("vsum"),
        col("stats.min").as("vmin"), col("stats.max").as("vmax"))

  /** Incremental pyramid maintenance — a streaming MATERIALIZED VIEW over
    * the overview level: each micro-batch of native-tile upserts merges
    * into the native state and recomputes ONLY the parents whose child set
    * changed (`quadbin_ancestor` of the batch's blocks), so per-batch cost
    * scales with the batch's footprint, not the dataset. Re-sent tiles
    * upsert (latest batch wins, anti-join + union), and the final parent
    * state provably equals a from-scratch [[graft.raquet.Pyramid.buildLevel]]
    * over all natives (q114). State lives as two parquet dirs under
    * `stateDir` (a shared filesystem on a cluster); `localCheckpoint`
    * breaks the read-then-overwrite cycle per batch. */
  def incrementalPyramid(tiles: DataFrame, meta: RaquetMetadata,
      stateDir: String, parentZoom: Int, minZoom: Int = -1): StreamingQuery = {
    val mz = if (minZoom < 0) parentZoom else minZoom
    require(mz <= parentZoom, s"minZoom $mz must be <= parentZoom $parentZoom")
    def exists(d: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(d))
    // write-new-then-swap: the new state is FULLY on disk before the old
    // directory goes away, so a mid-write failure (e.g. an executor dying
    // with the only copy of a localCheckpoint block) leaves the previous
    // durable state intact instead of a deleted-then-partial directory
    def writeSwap(df: DataFrame, dir: String): Unit = {
      val tmp = dir + ".tmp"
      graft.raquet.RaquetIO.deleteTree(tmp)
      df.write.mode("overwrite").parquet(tmp)
      graft.raquet.RaquetIO.deleteTree(dir)
      require(new java.io.File(tmp).renameTo(new java.io.File(dir)),
        s"rename $tmp -> $dir failed")
    }
    tiles.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val nativeDir = s"$stateDir/native"
        val b = batch.localCheckpoint()
        if (!b.isEmpty) {
          val native = (if (exists(nativeDir))
            spark.read.parquet(nativeDir)
              .join(b, Seq("block"), "left_anti").unionByName(b)
          else b).localCheckpoint()
          writeSwap(native, nativeDir)
          // walk the levels top-down: at each zoom only the parents whose
          // (transitive) child set changed rebuild, and the merged level
          // feeds the next one — the touched set shrinks 4x per level
          var touched = b
            .select(quadbin_ancestor(col("block"), lit(parentZoom)).as("p"))
            .distinct().localCheckpoint()
          var childSource = native
          var z = parentZoom
          while (z >= mz) {
            val dir = s"$stateDir/parents_z$z"
            val children = childSource.join(broadcast(touched),
              quadbin_ancestor(col("block"), lit(z)) === col("p"))
              .drop("p")
            val fresh = graft.raquet.Pyramid.buildLevel(children, meta, z)
            val merged = (if (exists(dir))
              spark.read.parquet(dir)
                .join(fresh, Seq("block"), "left_anti").unionByName(fresh)
            else fresh).localCheckpoint()
            writeSwap(merged, dir)
            childSource = merged
            if (z > mz)
              touched = touched
                .select(quadbin_ancestor(col("p"), lit(z - 1)).as("p"))
                .distinct().localCheckpoint()
            z -= 1
          }
        }
      }
      .start()
  }

  /** Continuous ingestion: follow a directory of incoming tile batches and
    * append them, Morton-sorted per micro-batch, to a raquet directory. The
    * foreachBatch body is the batch writer, so output files keep the sorted
    * prunable layout. */
  def ingest(spark: SparkSession, inDir: String, schema: StructType,
      outDir: String, checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.orderBy("block").write.mode("append").parquet(outDir)
      }
      .start()
}
