package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PreferenceSpec extends SparkSpec {
  import spark.implicits._

  private val S = Preference.Scale

  /** Driver-side integer replay of the MM contract over a tiny game
    * list: games as (a, b, winA). */
  private def replay(games: Seq[(Long, Long, Long)], rounds: Int): Map[Long, Long] = {
    val players = games.flatMap(g => Seq(g._1, g._2)).distinct
    val wins = players.map(t => t ->
      games.map { case (a, b, w) =>
        if (a == t) w else if (b == t) 1L - w else 0L }.sum).toMap
    var w = players.map(_ -> S).toMap
    for (_ <- 1 to rounds) {
      val r = games.map { case (a, b, _) => (a, b, (S * S) / (w(a) + w(b))) }
      val denom = players.map(t => t ->
        r.collect { case (a, b, rr) if a == t || b == t => rr }.sum).toMap
      w = players.map { t =>
        t -> (if (denom(t) == 0L) w(t)
              else math.max(math.min(
                wins(t) * S * S / denom(t), Preference.WCap), 1L))
      }.toMap
    }
    w
  }

  test("ringGames: successor pairing per group, winner by score, ties to smaller id") {
    val scored = Seq(
      (1L, "g1", 0.9), (2L, "g1", 0.5), (3L, "g1", 0.5),
      (10L, "g2", 0.1), (11L, "g2", 0.7),
      (20L, "g3", 0.3) // singleton: no game
    ).toDF("doc_id", "grp", "sc")
    val g = Preference.ringGames(scored, col("grp"), col("sc"))
      .as[(Long, Long, Long)].collect().toSet
    assert(g == Set(
      (1L, 2L, 1L),   // 0.9 > 0.5
      (2L, 3L, 1L),   // tie -> smaller id wins
      (10L, 11L, 0L)))
  }

  test("ringGames: bucketed two-phase pairing equals the single-window derivation at every width") {
    // The law the scale path rests on: the (group, id div width) window
    // plus next-bucket stitching yields the IDENTICAL game list as one
    // group-partitioned lead, for any bucketWidth — including widths
    // that cut groups mid-run (1, 2, 3) and one that doesn't (10^6).
    val scored = (0L until 120L).map { i =>
      (i * 7 % 251, s"g${i % 4}", (i * 13 % 17).toDouble / 17.0)
    }.toDF("doc_id", "grp", "sc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("doc_id"))
    val single = scored
      .select(col("doc_id").as("a"), col("sc").as("_s"),
        lead(col("doc_id"), 1).over(w).as("b"),
        lead(col("sc"), 1).over(w).as("_ns"))
      .where(col("b").isNotNull)
      .select(col("a"), col("b"),
        when(col("_s") > col("_ns") ||
          (col("_s") === col("_ns") && col("a") < col("b")), lit(1L))
          .otherwise(lit(0L)).as("win_a"))
      .as[(Long, Long, Long)].collect().toSet
    for (width <- Seq(1L, 2L, 3L, 1000000L)) {
      val bucketed = Preference.ringGames(scored, col("grp"), col("sc"),
          bucketWidth = width)
        .as[(Long, Long, Long)].collect().toSet
      assert(bucketed == single, s"width $width diverges from single-window")
    }
  }

  test("bradleyTerry: chain ordering, floors, hand replay, repeated pairs") {
    // A beats B, B beats C — the transitive chain
    val games = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("a", "b", "win_a")
    val out = Preference.bradleyTerry(games, rounds = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val want = replay(Seq((1L, 2L, 1L), (2L, 3L, 1L)), 4)
    (1L to 3L).foreach { t =>
      assert(out(t)._4 == want(t), s"player $t: ${out(t)._4} vs ${want(t)}")
    }
    assert(out(1L)._4 > out(2L)._4 && out(2L)._4 > out(3L)._4)
    assert(out(3L)._4 == 1L) // never-winner floors
    assert(out(1L)._2 == 1L && out(2L)._2 == 2L) // n_games
    assert(out(1L)._3 == 1L && out(3L)._3 == 0L) // wins
    // a repeated pair acts as n_ij = 2: two wins beat one win + one loss
    val rep = Seq((1L, 2L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("a", "b", "win_a")
    val ro = Preference.bradleyTerry(rep, rounds = 4)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    val rw = replay(Seq((1L, 2L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 2L, 1L)), 4)
    assert(ro == rw.view.filterKeys(Set(1L, 2L, 3L)).toMap)
    assert(ro(1L) > ro(2L))
  }

  test("bradleyTerryStates: init state, length, monotone separation, partition independence") {
    val games = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("a", "b", "win_a")
    val states = Preference.bradleyTerryStates(games, rounds = 3)
    assert(states.length == 4)
    val s0 = states.head.as[(Long, Long)].collect().toMap
    assert(s0.values.toSet == Set(S) && s0.keySet == Set(1L, 2L, 3L, 4L))
    // states stay readable after the run (keepAll contract)
    val s2 = states(2).as[(Long, Long)].collect().toMap
    assert(s2(1L) > s2(4L))
    // partitioning independence of the final ratings
    val a = Preference.bradleyTerry(games, rounds = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val b = Preference.bradleyTerry(games.repartition(7), rounds = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Final ratings and every state, driver twin vs the superstep loop
    * under a forced cap of 0, each side asserted to have taken its
    * branch (one kernel call per operator run). */
  private def escapeLaw(games: org.apache.spark.sql.DataFrame, hint: String): Unit = {
    def both(run: => Seq[Seq[String]]): Unit = {
      val (small, d) = graft.plans.Supersteps.withCap(
        graft.plans.Supersteps.DriverRowCap)(run)
      val (forced, f) = graft.plans.Supersteps.withCap(0L)(run)
      assert(d.onDriver.get == 1 && d.distributed.get == 0, hint)
      assert(f.onDriver.get == 0 && f.distributed.get == 1, hint)
      assert(small == forced, hint)
    }
    both(Seq(canon(Preference.bradleyTerry(games, rounds = 4))))
    both(Preference.bradleyTerryStates(games, 3).map(canon))
  }

  /** A seeded random comparison log: sparse player ids, repeated pairs
    * (n_ij > 1), an undefeated player and a never-winner. */
  private def randomGames(seed: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val players = (0 until 4 + rnd.nextInt(6)).map(i => 5L * i + 2)
    val games = Seq.fill(3 * players.size) {
      val a = players(rnd.nextInt(players.size))
      val b = players.filter(_ != a)(rnd.nextInt(players.size - 1))
      (a, b, rnd.nextInt(2).toLong)
    }
    // 1000 never loses, 1001 never wins
    val (p0, p1) = (players.head, players.last)
    games ++ games.take(3) ++ Seq((1000L, p0, 1L), (p1, 1000L, 0L),
      (1001L, p0, 0L), (p1, 1001L, 1L))
  }

  test("bradleyTerry driver escape equals the distributed MM loop exactly") {
    // the ring-derived fixture log, then seeded random logs
    val docs = (0L until 60L).map(i =>
      (i, s"g${i % 3}", (i * 37 % 11).toDouble)).toDF("doc_id", "_g", "_q")
    escapeLaw(Preference.ringGames(docs, col("_g"), col("_q"))
      .localCheckpoint(), "ring fixture")
    Seq(11, 42, 97).foreach { s =>
      escapeLaw(randomGames(s).toDF("a", "b", "win_a"), s"seed $s")
    }
  }

  test("bradleyTerry escape accepts int-typed a, b and win_a") {
    val games = randomGames(42)
      .map { case (a, b, w) => (a.toInt, b.toInt, w.toInt) }
      .toDF("a", "b", "win_a")
    escapeLaw(games, "int games")
  }
}
