package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pairwise-preference aggregation — the reward-model data-prep step a
  * post-training pipeline runs over human (or judge-model) comparison
  * logs: Bradley-Terry ratings fitted by the classic
  * minorization-maximization update (Hunter 2004),
  *
  *   w_i  <-  W_i / Σ_{j ~ i} n_ij / (w_i + w_j)
  *
  * in EXACT fixed-point integer arithmetic (the [[Glove]] determinism
  * contract: every quantity a long at scale 2^20, every scale division
  * a `div` over positive operands, every round's state crossed through
  * [[graft.plans.Supersteps.cut]], the whole run replayable as chained
  * DuckDB CTEs).
  *
  * Like the true MLE, ratings are scale-free; no per-round
  * normalization is applied. Undefeated players diverge in the exact
  * MLE — here the documented [[WCap]] clamp rails them
  * deterministically, and never-winners take the `greatest(.., 1)`
  * floor (both the [[Glove.VCap]] convention: saturation, not
  * divergence, and at fixture scale only the floor binds).
  *
  * Scale shape (billions of comparisons): state is player-grain
  * `(t, w)`; each round is one edge-grain double equi-join (ratings
  * onto both ends of every game), an incidence-union aggregate back to
  * player grain, and one superstep cut — nothing is collected or
  * broadcast, and the denominator sum accumulates in DECIMAL(38,0)
  * (per-edge reciprocal < 2^39; the degree-sized sum need not fit a
  * long).
  */
object Preference {

  /** Fixed-point scale: ratings are longs at scale 2^20 (init = 1.0). */
  val Scale: Long = graft.ext.Retrieval.Scale

  /** Rating cap (2^30 = rating 1024): where the undefeated-player
    * divergence of the exact MLE rails deterministically. */
  val WCap: Long = 1L << 30

  /** Fixture-side comparison derivation: each document plays its
    * successor within its group (ordered by id), winner = higher
    * score, ties to the smaller id. This is the REPLAYABLE stand-in
    * for a real comparison log — production input is the logged
    * `(a, b, win_a)` frame itself, not a derivation.
    *
    * The pairing is the [[Agreement.globalRank]] two-phase form, so
    * the derivation survives a corpus-sized group: the successor
    * window partitions on `(group, id div bucketWidth)` (partition ≤
    * bucketWidth rows — id-div is a monotone non-strict coarsening of
    * the sort key), and each bucket's LAST row takes the min-id row
    * of the group's next non-empty bucket, resolved by one `lead`
    * over the bucket-grain `(group, bucket, first)` histogram — an
    * aggregate ~1/bucketWidth of the input, never a group-sized
    * partition. Choose bucketWidth ≈ √(id span) to balance the two
    * grains. The bucketing affects ONLY the plan, never the pairs
    * (PreferenceSpec law: any width equals the single-window
    * derivation), so the SQL oracle may pair with a plain per-group
    * lead. Output: (a, b, win_a). */
  def ringGames(scored: DataFrame, group: Column, score: Column,
      idCol: String = "doc_id", bucketWidth: Long = 4096L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val d = scored.select(group.as("_g"), col(idCol).as("a"), score.as("_s"))
      .withColumn("_bk", expr(s"a div ${bucketWidth}L"))
    val w = Window.partitionBy(col("_g"), col("_bk")).orderBy(col("a"))
    val led = d
      .withColumn("_b1", lead(col("a"), 1).over(w))
      .withColumn("_ns1", lead(col("_s"), 1).over(w))
    val firsts = d.groupBy(col("_g"), col("_bk"))
      .agg(min_by(struct(col("a"), col("_s")), col("a")).as("_f"))
    val hw = Window.partitionBy(col("_g")).orderBy(col("_bk"))
    val nxt = firsts.select(col("_g"), col("_bk"),
      lead(col("_f"), 1).over(hw).as("_nf"))
    led.join(nxt, Seq("_g", "_bk"), "left")
      .select(col("a"),
        when(col("_b1").isNotNull, col("_b1"))
          .otherwise(col("_nf").getField("a")).as("b"),
        col("_s"),
        when(col("_b1").isNotNull, col("_ns1"))
          .otherwise(col("_nf").getField("_s")).as("_ns"))
      .where(col("b").isNotNull)
      .select(col("a"), col("b"),
        when(col("_s") > col("_ns") ||
          (col("_s") === col("_ns") && col("a") < col("b")), lit(1L))
          .otherwise(lit(0L)).as("win_a"))
  }

  /** Every state of a Bradley-Terry MM run over `games (a, b, win_a)`
    * (win_a ∈ {0,1}; repeated pairs allowed — they act as n_ij > 1):
    * element r is the player-grain rating frame `(t, w)` after r
    * rounds (element 0 = all-equal init at [[Scale]]), each
    * superstep-cut. Players appearing only as never-winners floor to
    * 1; a player's games and wins are loop constants, checkpointed
    * once. */
  def bradleyTerryStates(games: DataFrame, rounds: Int): Seq[DataFrame] =
    mmLoop(games, rounds, keepAll = true)

  /** Driver twin of the MM loop for a BOUNDED comparison log (the
    * [[graft.plans.Supersteps.adaptive]] size-adaptive escape): the
    * identical integer recurrence — per-game reciprocal
    * `S² div (wa + wb)` in Long, per-player denominator summed as
    * BigInteger (the DECIMAL(38,0) twin; addition commutes, so any
    * distributed partial-agg order lands on the same value), and the
    * same clamp — replayed in milliseconds instead of `rounds` serial
    * superstep rounds. Returns each round's state (element 0 = init). */
  private def mmDriver(games: Array[(Long, Long, Long)],
      rounds: Int): Seq[Array[(Long, Long)]] = {
    val wins = scala.collection.mutable.LongMap.empty[Long]
    games.foreach { case (a, b, wa) =>
      wins(a) = wins.getOrElse(a, 0L) + wa
      wins(b) = wins.getOrElse(b, 0L) + (1L - wa)
    }
    val players = wins.keys.toArray.sorted
    var w = scala.collection.mutable.LongMap.empty[Long]
    players.foreach(t => w(t) = Scale)
    val out = Seq.newBuilder[Array[(Long, Long)]]
    out += players.map(t => (t, Scale))
    val s2 = BigInt(Scale) * Scale
    for (_ <- 1 to rounds) {
      val denom = scala.collection.mutable.LongMap.empty[BigInt]
      games.foreach { case (a, b, _) =>
        val r = BigInt((Scale * Scale) / (w(a) + w(b)))
        denom(a) = denom.getOrElse(a, BigInt(0)) + r
        denom(b) = denom.getOrElse(b, BigInt(0)) + r
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      players.foreach { t =>
        next(t) = denom.get(t) match {
          case Some(d) if d.signum > 0 =>
            ((BigInt(wins(t)) * s2) / d).max(BigInt(1)).min(BigInt(WCap))
              .toLong
          case _ => w(t)
        }
      }
      w = next
      out += players.map(t => (t, w(t)))
    }
    out.result()
  }

  /** The MM loop. `keepAll = true` keeps every round's blocks live (the
    * spec / inspection path); `false` releases each superseded round
    * once its successor materializes (the [[Glove]]-verdict unpersist
    * discipline — the query path only needs the last state). */
  private def mmLoop(games: DataFrame, rounds: Int,
      keepAll: Boolean): Seq[DataFrame] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // SIZE-ADAPTIVE escape: a bounded game log resolves all rounds on
    // the driver (see mmDriver); the superstep path below is the
    // billions-of-comparisons shape, unchanged.
    graft.plans.Supersteps.adaptive(
        games.select(col("a"), col("b"), col("win_a"))) { case Seq(gs) =>
      mmDriver(gs.triples, rounds).map(
        graft.plans.Supersteps.driverFrame(games.sparkSession, "t", "w")(_))
    }(mmSupersteps(games, rounds, keepAll))
  }

  private def mmSupersteps(games: DataFrame, rounds: Int,
      keepAll: Boolean): Seq[DataFrame] = {
    val g = games.select(col("a"), col("b"), col("win_a"))
      .localCheckpoint()
    val players = g.select(col("a").as("t"))
      .unionByName(g.select(col("b").as("t"))).distinct()
    val wins = g.select(col("a").as("t"), col("win_a").as("_w"))
      .unionByName(g.select(col("b").as("t"), (lit(1L) - col("win_a")).as("_w")))
      .groupBy("t").agg(sum(col("_w")).as("_wins"))
    val base = players.join(wins, Seq("t"), "left")
      .select(col("t"), coalesce(col("_wins"), lit(0L)).as("_wins"))
      .localCheckpoint()
    var state = graft.plans.Supersteps.cut(
      base.select(col("t"), lit(Scale).as("w")))
    val out = Seq.newBuilder[DataFrame]
    out += state
    for (_ <- 1 to rounds) {
      val wa = state.select(col("t").as("a"), col("w").as("_wa"))
      val wb = state.select(col("t").as("b"), col("w").as("_wb"))
      // reciprocal at scale 2^20: S^2 div (wa+wb) < 2^39 per edge
      val r = g.join(wa, Seq("a")).join(wb, Seq("b"))
        .withColumn("_r", expr(s"(${Scale * Scale}L) div (_wa + _wb)"))
      val denom = r.select(col("a").as("t"), col("_r"))
        .unionByName(r.select(col("b").as("t"), col("_r")))
        .groupBy("t")
        .agg(sum(col("_r").cast("decimal(38,0)")).as("_d"))
      state = graft.plans.Supersteps.cut(
        base.join(state.select(col("t"), col("w")), Seq("t"))
          .join(denom, Seq("t"), "left")
          .select(col("t"),
            when(col("_d").isNull, col("w")).otherwise(
              expr(s"CAST(greatest(least((CAST(_wins AS DECIMAL(38,0)) * ${Scale * Scale}L) div _d, " +
                s"${WCap}L), CAST(1 AS BIGINT)) AS BIGINT)")).as("w")),
        superseded = if (keepAll) Nil else Seq(state))
      out += state
    }
    out.result()
  }

  /** Final ratings joined back to the game record:
    * `(t, n_games, wins, w_fp)`. */
  def bradleyTerry(games: DataFrame, rounds: Int = 6): DataFrame = {
    val g = games.select(col("a"), col("b"), col("win_a"))
    val inc = g.select(col("a").as("t"), col("win_a").as("_w"))
      .unionByName(g.select(col("b").as("t"), (lit(1L) - col("win_a")).as("_w")))
      .groupBy("t")
      .agg(count(lit(1)).as("n_games"), sum(col("_w")).as("wins"))
    mmLoop(games, rounds, keepAll = false).last
      .join(inc, Seq("t"))
      .select(col("t"), col("n_games"), col("wins"), col("w").as("w_fp"))
  }
}
