#!/usr/bin/env python
"""Decade rehearsal for the two round-7 incremental stores that
shipped with compaction ARGUMENTS but no recorded measurement
(VERDICT r7 #8): the bot gap-moment store (streaming_bot) and the
CUSUM daily-count store (streaming_cusum).

Feeds each store a sequence of time-ordered synthetic event waves at
growing batch sizes (decade steps ×1 → ×10), measuring

  * per-batch ingest wall time — must track BATCH size, not history;
  * resolved-read (score / cusum) wall time before and after
    compaction — must track STORE grain (users / days), not batch
    fan-out;
  * store row counts — must stay at user-grain × batches (bounded by
    compaction) and day-grain respectively.

Runs must be in ISOLATION (no concurrent Spark on the host).

Usage:
    PYTHONPATH=/root/repo python tools/scale_rehearsal_botcusum.py \
        [n_waves] [base_events] [n_users]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_waves = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    base = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    n_users = int(sys.argv[3]) if len(sys.argv) > 3 else 5_000

    from pyspark.sql import functions as F

    from maillog2db_spark import streaming_bot as sb
    from maillog2db_spark import streaming_cusum as sc
    from maillog2db_spark.session import get_spark

    spark = get_spark("scale_rehearsal_botcusum", cpus=8)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    bot = sb.BotStore(tempfile.mkdtemp(prefix="bot_rehearsal_"))
    cus = sc.CusumStore(tempfile.mkdtemp(prefix="cusum_rehearsal_"))

    t_base = 1_700_000_000_000_000  # µs epoch
    offset = 0  # running event count -> time-ordered waves

    def wave(batch_id: int, n: int):
        """n events spread over n_users with deterministic jittered
        gaps, time-ordered AFTER every prior wave."""
        return (
            spark.range(offset, offset + n, 1, 8)
            .select(
                F.col("id").alias("event_id"),
                F.pmod(F.col("id") * 2654435761, F.lit(n_users)).alias(
                    "user_id"
                ),
                F.expr(
                    f"timestamp_micros({t_base} + id * 700000 + "
                    "pmod(id * 48271, 997) * 1000)"
                ).alias("ts"),
                F.lit("click").alias("event_type"),
                F.lit(1.0).alias("value"),
                F.lit("{}").alias("props"),
            )
        )

    # decade steps: wave sizes base, base, 2x, 2x, 5x, 5x, 10x, 10x —
    # per-batch cost must track the wave size column
    mults = [1, 1, 2, 2, 5, 5, 10, 10][:n_waves]
    for b, m in enumerate(mults):
        n = base * m
        df = wave(b, n).localCheckpoint(eager=True)
        t0 = time.time()
        sb.bot_ingest_batch(spark, df, bot, b)
        t_bot = time.time() - t0
        t0 = time.time()
        sc.cusum_ingest_batch(spark, df, cus, b)
        t_cus = time.time() - t0
        offset += n
        print(
            f"wave {b}: {n:>8} events  bot_ingest {t_bot:5.2f}s  "
            f"cusum_ingest {t_cus:5.2f}s",
            flush=True,
        )

    # resolved reads at full fan-out
    t0 = time.time()
    n_flag = sb.bot_score(spark, bot).count()
    t_score = time.time() - t0
    t0 = time.time()
    n_days = sc.cusum(spark, cus).count()
    t_cusum = time.time() - t0
    p_rows = bot.read_partials(spark, bot.path).count()
    d_rows = sc.CusumStore.daily(cus, spark).count()
    print(
        f"pre-compact : score {t_score:5.2f}s ({n_flag} users), "
        f"cusum {t_cusum:5.2f}s ({n_days} days); "
        f"store rows: gap_partials={p_rows} daily={d_rows}",
        flush=True,
    )

    sb.compact_gap_partials(spark, bot)
    sc.compact_daily(spark, cus)
    t0 = time.time()
    n_flag2 = sb.bot_score(spark, bot).count()
    t_score2 = time.time() - t0
    t0 = time.time()
    n_days2 = sc.cusum(spark, cus).count()
    t_cusum2 = time.time() - t0
    p2 = bot.read_partials(spark, bot.path).count()
    d2 = sc.CusumStore.daily(cus, spark).count()
    assert n_flag2 == n_flag and n_days2 == n_days, "compaction moved results"
    print(
        f"post-compact: score {t_score2:5.2f}s, cusum {t_cusum2:5.2f}s; "
        f"store rows: gap_partials={p2} (user-grain={p2 == min(n_users, offset)}) "
        f"daily={d2}",
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
