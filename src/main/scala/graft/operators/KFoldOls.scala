package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** k-fold out-of-fold slope stability — the model-validation companion
  * to q199 (fit) and q214 (interval coverage): refit the revenue
  * trend with each of 5 deterministic folds HELD OUT and report the
  * five out-of-fold slopes side by side. A stable trend moves little
  * when any fifth of the data vanishes; a slope owned by one fold's
  * outliers swings — the cheapest honest answer to "is this trend an
  * artifact of a few rows?".
  *
  * The arithmetic trick that keeps this ONE pass: out-of-fold moments
  * are TOTAL − fold moments, so a single per-fold moment aggregate
  * (folds = orderkey mod 5, deterministic) plus a 1-row total
  * broadcast yields all five leave-fold-out fits — no per-fold
  * rescans (the k-fold equivalent of q214's split discipline).
  *
  * Exactness: the q199 ladder — day indexes and cents as exact
  * integers, per-fold moment sums in decimal(38,0)/HUGEINT,
  * subtraction exact, one mirrored IEEE slope epilogue per fold.
  *
  * Scale shape: one map-side-combinable aggregate to the 5-row fold
  * frame; everything after is a 5-row epilogue.
  */
object KFoldOls {

  val Folds = 5

  val q229 = Q(
    "q229_kfold_slope_stability",
    (s, dir) => {
      import s.implicits._
      val pts = Tables.load(s, dir, "orders")
        .select(($"o_orderkey" % Folds).as("fold"),
          datediff($"o_orderdate", lit("1995-01-01").cast("date"))
            .cast("long").as("x"),
          (graft.Q.money($"o_totalprice") * 100).cast("long").as("y"))
      val perFold = graft.Barrier(pts.groupBy($"fold")
        .agg(count(lit(1)).as("n"),
          sum($"x".cast("decimal(38,0)")).as("sx"),
          sum($"y".cast("decimal(38,0)")).as("sy"),
          sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
          sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy")))
      val tot = perFold.agg(sum($"n").as("tn"), sum($"sx").as("tsx"),
        sum($"sy").as("tsy"), sum($"sxx").as("tsxx"),
        sum($"sxy").as("tsxy"))
      perFold.crossJoin(broadcast(tot))
        .select($"fold", ($"tn" - $"n").as("n_train"),
          ($"tsx" - $"sx").as("ox"), ($"tsy" - $"sy").as("oy"),
          ($"tsxx" - $"sxx").as("oxx"), ($"tsxy" - $"sxy").as("oxy"))
        .select($"fold", $"n_train",
          (($"n_train".cast("double") * $"oxy".cast("double")
            - $"ox".cast("double") * $"oy".cast("double"))
            / ($"n_train".cast("double") * $"oxx".cast("double")
              - $"ox".cast("double") * $"ox".cast("double")))
            .as("oof_slope_cents_per_day"))
        .orderBy($"fold")
    },
    Some(s"""WITH pts AS (
      |  SELECT o_orderkey % $Folds AS fold,
      |         CAST(date_diff('day', DATE '1995-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM orders),
      |per_fold AS (
      |  SELECT fold, COUNT(*) AS n,
      |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x * x AS HUGEINT)) AS sxx,
      |         SUM(CAST(x * y AS HUGEINT)) AS sxy
      |  FROM pts GROUP BY 1),
      |tot AS (
      |  SELECT SUM(n) AS tn, SUM(sx) AS tsx, SUM(sy) AS tsy,
      |         SUM(sxx) AS tsxx, SUM(sxy) AS tsxy
      |  FROM per_fold),
      |oof AS (
      |  SELECT fold, CAST(tn - n AS BIGINT) AS n_train,
      |         tsx - sx AS ox, tsy - sy AS oy,
      |         tsxx - sxx AS oxx, tsxy - sxy AS oxy
      |  FROM per_fold, tot)
      |SELECT fold, n_train,
      |       (CAST(n_train AS DOUBLE) * CAST(oxy AS DOUBLE)
      |          - CAST(ox AS DOUBLE) * CAST(oy AS DOUBLE))
      |       / (CAST(n_train AS DOUBLE) * CAST(oxx AS DOUBLE)
      |          - CAST(ox AS DOUBLE) * CAST(ox AS DOUBLE))
      |         AS oof_slope_cents_per_day
      |FROM oof ORDER BY fold""".stripMargin),
    doc = s"stats: $Folds-fold out-of-fold OLS slope stability — one moment pass, leave-fold-out fits by total-minus-fold subtraction. " +
      "k-fold OLS: ONE moment pass to the 5-row fold frame; out-of-fold fits by total-minus-fold subtraction (no per-fold rescans); 5-row epilogue.")

  val all: Seq[Q] = Seq(q229)
}
