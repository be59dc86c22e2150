"""The benchmark's workloads, each a closed loop of one client.

A workload prepares its inputs from the seed (no Spark) and computes the
answers that need no Spark; its warm-up, part of set-up, runs every op kind
of the timed cycle once; then it yields cycles of ops forever, and the
runner times whole cycles. Every op leaves a result that ``check`` judges.

- ``dashboard``: one HTTP-style request per op: ``Query.build`` then
  ``collect`` of one registered query. Queries have pinned popularity
  ranks (``DASHBOARD_RANKS``). Each timed cycle holds the first ranks in
  proportion to 1/rank (Zipf), in a seed-shuffled order; the seed also
  picks two tail queries, each run once after the timed cycles and
  checked like every op, but kept out of the end-to-end metrics.
- ``dedup_batch``: one near-duplicate / similarity batch job per op, in a
  seed-permuted order each pass.
- ``nightly_etl``: one month's refresh per op: bronze gzip JSONL →
  ``build_user_data`` → silver month partition, then the five gold
  builders, each written month-partitioned.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

import datagen

# Batch-only query outputs (80k-102k rows at sf0.1): not dashboard replies.
BULK_QUERIES = ("a1_user_data", "message_classification", "user_sessions")

# Queries left out of the dashboard mix because their answer is wrong on
# some seeds: a program defect, recorded here for a later fix, not a
# benchmark choice. shipping_priority rounds a double sum to 2 dp; Spark
# and DuckDB add the same lineitem terms in different orders, so a revenue
# whose exact decimal value ends in 5 at the third decimal rounds up on one
# engine and down on the other (seed 42, sf0.01: 531375.46 vs 531375.45).
WRONG_ON_SOME_SEEDS = ("shipping_priority",)

# Popularity ranks of the dashboard requests, most requested first: every
# registered query except the dedup_batch jobs, BULK_QUERIES and
# WRONG_ON_SOME_SEEDS, bench-tagged queries first. Pinned here rather than
# read from the registry, so that every seed, and both sides of an A/B, rank
# the same names; a name the registry lacks fails as an op.
DASHBOARD_RANKS = (
    "type_cosine_similarity", "overlap_matrix", "membership_summary_gold",
    "pricing_summary", "chat_leaderboard", "daily_event_rollup",
    "velocity_bursts_exact", "ewm_forecast", "knn_cosine",
    "multimodal_features", "doc_token_stats", "monthly_revenue_diff",
    "lang_source_corpus", "highlight_windows", "exclusive_group_users",
    "user_percentile_rank", "error_transitions", "top_user_events",
    "exclusive_users", "global_stats", "doc_fingerprints",
    "price_percentiles", "monthly_spine_gapfill", "jp_user_share",
    "membership_changes", "order_status_breakdown", "streaming_hours_agg",
    "ml_forecast", "user_changes", "funniest_timestamps", "rolling_revenue",
    "daily_event_rollup_approx", "exact_dedup_summary",
    "simhash_fingerprints", "user_monthly_activity_gold",
    "linear_trend_forecast", "event_type_share", "weekly_attrition",
    "chat_engagement", "user_month_language_gold", "busiest_bucket_per_user",
    "common_users", "media_type_stats", "latest_order_per_customer",
    "label_centroid_stats", "top_orders", "lang_rollup",
    "channel_month_language_gold", "velocity_bursts", "brand_volume",
    "multimodal_frame_sample", "langid_heuristic",
    "customers_without_orders", "monthly_spine_interp",
    "latest_event_per_user",
)

DEDUP_JOBS = (
    "minhash_lsh_pairs",
    "simhash_neardup_pairs",
    "embedding_neardup_lsh",
    "embedding_neardup_pairs",
    "ngram_jaccard_pairs",
    "tfidf_lang_similarity",
    "similarity_edges",
    "recommend_topk",
    "ivf_knn_cosine",
    "channel_clustering",
)


@dataclass
class Op:
    kind: str  # query name, or month for the ETL
    result: object = None  # what ``check`` judges; dropped after the check
    detail: dict = field(default_factory=dict)  # counts for the traced run
    latency: float = 0.0
    ok: bool = False


def latency_s(wl, ops: list) -> float:
    """Mean latency of the correct ops, each part of an op (``wl.parts``: a
    whole query, or one step of a refresh) taken at its median over the
    run and weighted by how often it occurs per op. For the dashboard that
    is the expected latency of a request from the mix; for the ETL, the
    time of a refresh whose steps each take their median. A stall that
    slows one op does not move it, as it would a mean, and it does not jump
    between queries as the median of a mix of queries does."""
    groups: dict[str, list[float]] = {}
    n = 0
    for op in ops:
        if op.ok:
            n += 1
            for part, seconds in wl.parts(op):
                groups.setdefault(part, []).append(seconds)
    return sum(len(v) / n * statistics.median(v) for v in groups.values()) if n else 0.0


def zipf_cycle(names: list[str], slots: int, s: float = 1.0) -> list[str]:
    """Largest-remainder apportionment of ``slots`` requests over ``names``
    (already in popularity order) with weights 1/rank**s."""
    w = [1.0 / (r + 1) ** s for r in range(len(names))]
    total = sum(w)
    quota = [slots * x / total for x in w]
    counts = [int(q) for q in quota]
    order = sorted(range(len(names)), key=lambda i: (-(quota[i] - counts[i]), i))
    for i in order[: slots - sum(counts)]:
        counts[i] += 1
    return [n for n, c in zip(names, counts) for _ in range(c)]


class QueryWorkload:
    """Shared machinery of the two query workloads. ``cycle_seconds`` in
    every workload is the nominal time of one cycle on a 4-core host; the
    runner turns ``--seconds`` into a number of cycles with it."""

    sf = 0.01

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "tables")
        self.rng = random.Random(seed)
        self.expected: dict[str, object] = {}

    def cycle(self, registry) -> list[str]:
        raise NotImplementedError

    def tail(self, registry) -> list[str]:
        """Op kinds run once each after the timed cycles, outside the
        end-to-end metrics."""
        return []

    def parts(self, op: Op) -> list[tuple[str, float]]:
        """An op is one part for ``latency_s``: its query."""
        return [(op.kind, op.latency)]

    def prepare(self) -> dict:
        sizes = datagen.write_tables(self.sf_dir, self.sf, self.seed)
        return {"sf": self.sf, "rows": sizes}

    def oracle_answers(self, registry) -> None:
        """DuckDB's answer for every op kind with an oracle, timed cycle and
        tail, computed before the session starts."""
        from holochatstats_spark.testing import duck_connection, normalize

        con = duck_connection(self.sf_dir)
        for name in sorted(set(self.cycle(registry)) | set(self.tail(registry))):
            if name in registry and registry[name].oracle is not None:
                res = con.execute(registry[name].oracle)
                cols = [d[0] for d in res.description]
                self.expected[name] = ("rows", normalize(res.fetchall(), cols),
                                       sorted(cols))
        con.close()

    def first_run(self, spark, registry, name: str) -> None:
        """Build and collect ``name`` once. For a rows-only query this run
        is the reference: its row count and schema are what later runs must
        match. A name the registry lacks is skipped here; its op fails."""
        if name not in registry:
            return
        df = registry[name].build(spark, self.sf_dir)
        n = len(df.collect())
        if registry[name].oracle is None:
            self.expected[name] = ("shape", n, df.schema.simpleString())

    def warmup(self, spark, registry) -> None:
        """Part of set-up: the first run of every query of the timed cycle,
        so no timed op pays a plan's first compilation."""
        for name in sorted(set(self.cycle(registry))):
            self.first_run(spark, registry, name)

    def tail_references(self, spark, registry) -> None:
        """After the timed cycles: the reference run of each rows-only tail
        query. A tail query with an oracle is not run before its op, so
        that op includes its plan's first compilation."""
        for name in self.tail(registry):
            if name in registry and registry[name].oracle is None:
                self.first_run(spark, registry, name)

    def cycles(self, registry):
        cycle = self.cycle(registry)
        while True:
            order = list(cycle)
            self.rng.shuffle(order)
            yield [Op(name) for name in order]

    def run(self, spark, registry, op: Op, tracer=None) -> None:
        q = registry[op.kind]
        if tracer is None:
            df = q.build(spark, self.sf_dir)
            rows = df.collect()
        else:
            with tracer.span("queries.build"):
                df = q.build(spark, self.sf_dir)
            with tracer.span("exec.collect"):
                rows = df.collect()
        op.result = (rows, df)

    def check(self, spark, op: Op) -> bool:
        from holochatstats_spark.testing import normalize

        rows, df = op.result
        op.detail["result_rows"] = len(rows)
        exp = self.expected[op.kind]
        if exp[0] == "rows":
            cols = df.columns
            return sorted(cols) == exp[2] and normalize(
                [tuple(r) for r in rows], cols) == exp[1]
        return len(rows) == exp[1] and df.schema.simpleString() == exp[2]


class Dashboard(QueryWorkload):
    # 5 slots: ranks 1-5 once each. A run's budget holds about 20 timed
    # requests; over five queries that is four samples of each, enough for
    # the per-query median of ``latency_s`` to drop the slowest one (the
    # first cycle after warm-up runs 10-35% slower than the others).
    slots = 5
    tail_per_run = 2
    cycle_seconds = 5.0

    def cycle(self, registry) -> list[str]:
        return zipf_cycle(list(DASHBOARD_RANKS), self.slots)

    def tail(self, registry) -> list[str]:
        """The ranks the timed cycle never reaches, ``tail_per_run`` per run:
        seed n takes the ones from position n * tail_per_run on (wrapping),
        so any 25 consecutive seeds build, run and check all 50."""
        head = set(self.cycle(registry))
        rest = [n for n in DASHBOARD_RANKS if n not in head]
        k = self.tail_per_run
        return [rest[(self.seed * k + i) % len(rest)] for i in range(k)]


class DedupBatch(QueryWorkload):
    cycle_seconds = 25.0

    def cycle(self, registry) -> list[str]:
        return list(DEDUP_JOBS)


class NightlyEtl:
    # Four months, each refreshed once a run. A refresh is mostly fixed
    # per-job cost (4.5-5.6 s at 4,000 messages a month, 5.2-6.6 s at
    # 10,000, on a 4-core VM), so smaller months would not fit more
    # refreshes in a run; 5,000 keeps the run inside its time budget.
    months = [f"2024-{m:02d}" for m in range(1, 5)]
    msgs_per_month = 5_000
    videos_per_month = 5
    n_channels = 4
    warmup_month = "2023-12"
    # The warm-up month is full size and goes to the same lake, so per-row
    # code and the lake's first writes are warm before timing. Refreshes
    # still get 20-30% faster over a run, a second warm-up refresh did
    # not change that, and the per-step medians of ``latency_s`` take the
    # middle of the slope.
    cycle_seconds = 5.0

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.seed = seed
        self.landing = os.path.join(work_dir, "landing")
        self.out = os.path.join(work_dir, "lake")
        self.rng = random.Random(seed)
        self.tallies: dict = {}

    def prepare(self) -> dict:
        info = datagen.write_landing_zone(
            self.landing, self.seed, self.months, self.msgs_per_month,
            self.videos_per_month, self.n_channels)
        warm = datagen.write_landing_zone(
            self.landing, self.seed + 1_000_003, [self.warmup_month],
            self.msgs_per_month, self.videos_per_month, self.n_channels)
        self.channels = sorted(set(info["channels"]) | set(warm["channels"]))
        self.tallies = {**info["months"], **warm["months"]}
        return {
            "months": len(self.months),
            "messages_per_month": self.msgs_per_month,
            "files_per_month": self.videos_per_month,
        }

    def warmup(self, spark, registry) -> None:
        """A full refresh of an extra month, so the bronze read,
        classification, A1 aggregate, gold plans and partitioned writes are
        all compiled before the first timed op."""
        self._refresh(spark, self.warmup_month, self.out)

    def oracle_answers(self, registry) -> None:
        """The generator's tallies, kept by ``prepare``, are the expected
        answers."""

    def tail(self, registry) -> list[str]:
        return []

    def tail_references(self, spark, registry) -> None:
        pass

    def parts(self, op: Op) -> list[tuple[str, float]]:
        """A refresh's parts for ``latency_s`` are its steps: every month's
        refresh is the same job on like inputs, and four refreshes are
        too few for a median that one slow refresh does not move."""
        return list(op.detail["steps"].items())

    def cycles(self, registry):
        """One month per cycle: the refreshes are alike, so no mix to keep."""
        while True:
            order = list(self.months)
            self.rng.shuffle(order)
            for m in order:
                yield [Op(m)]

    def _channels_df(self, spark):
        return spark.createDataFrame(
            [(c, f"channel {c}", "groupA" if i % 2 == 0 else "groupB")
             for i, c in enumerate(self.channels)],
            "channel_id string, channel_name string, channel_group string",
        )

    def bronze(self, spark, month: str):
        from functools import reduce

        from holochatstats_spark.sources.chat_logs import read_chat_logs

        base = os.path.join(self.landing, month)
        frames = [
            read_chat_logs(spark, os.path.join(base, ch), channel_id=ch)
            for ch in sorted(os.listdir(base))
        ]
        return reduce(lambda a, b: a.unionByName(b), frames)

    def _refresh(self, spark, month: str, out: str, steps: dict | None = None) -> dict:
        """Refresh ``month`` into the lake at ``out``. If ``steps`` is given,
        record in it the seconds from the start (or the previous write) to
        the end of each write: the silver write and the five gold ones."""
        from holochatstats_spark.operators import gold
        from holochatstats_spark.operators.ingest import build_user_data
        from holochatstats_spark.sources.writers import write_month_partitioned

        t = time.perf_counter()

        def step(name: str) -> None:
            nonlocal t
            now = time.perf_counter()
            if steps is not None:
                steps[name] = now - t
            t = now

        y, m = (int(x) for x in month.split("-"))
        silver = build_user_data(self.bronze(spark, month), default_year=y,
                                 default_month=m)
        silver_path = os.path.join(out, "silver_user_data")
        write_month_partitioned(silver, silver_path)
        step("silver")
        ud = spark.read.parquet(os.path.join(silver_path, f"_month={month}"))
        channels = self._channels_df(spark)
        golds = {
            "user_monthly_activity": gold.user_monthly_activity(ud),
            "user_activity": gold.user_activity(ud, channels),
            "channel_month_language": gold.channel_month_language(ud),
            "user_month_language": gold.user_month_language(ud),
            "membership_summary": gold.membership_summary(ud, channels),
        }
        for name, df in golds.items():
            write_month_partitioned(df, os.path.join(out, name))
            step(name)
        return {"silver": silver, "golds": golds, "silver_path": silver_path}

    def run(self, spark, registry, op: Op, tracer=None) -> None:
        """``tracer`` is unused: in a traced run the program's own functions
        carry the spans (``spans.wrap_program``)."""
        op.detail["steps"] = {}
        op.result = self._refresh(spark, op.kind, self.out, op.detail["steps"])

    def check(self, spark, op: Op) -> bool:
        from pyspark.sql import functions as F

        want = self.tallies[op.kind]
        op.detail["result_rows"] = 0
        op.detail["messages"] = want["messages"]
        silver = spark.read.parquet(
            os.path.join(op.result["silver_path"], f"_month={op.kind}"))
        row = silver.agg(F.count("*").alias("n"),
                         F.sum("total_message_count").alias("t")).first()
        return (row["n"] == want["silver_rows"]
                and row["t"] == want["total_message_count"])

    def written(self, month: str) -> tuple[int, int]:
        """(files, bytes) in every table's partition for ``month``."""
        files = size = 0
        for table in os.listdir(self.out):
            part = os.path.join(self.out, table, f"_month={month}")
            if not os.path.isdir(part):
                continue
            for f in os.listdir(part):
                p = os.path.join(part, f)
                if os.path.isfile(p) and not f.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(p)
        return files, size


WORKLOADS = {
    "dashboard": Dashboard,
    "dedup_batch": DedupBatch,
    "nightly_etl": NightlyEtl,
}
