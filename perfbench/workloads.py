"""The benchmark's workloads: one single-threaded closed-loop client each.

``analyst_session``  a cold pipeline run and the roster-only operators in
                     set-up, then interactive reads over the committed gold
                     tables, plus flag write-backs read back through the
                     app surface.
``corpus_ingest``    micro-batches of arriving documents classified against
                     the committed probe index, then committed into it.

Each workload has a set-up (timed as ``setup_s``), then runs whole rounds
of operations, then checks outputs untimed.  Rounds are fixed, stratified
mixes, so every run measures the same blend; the number of rounds follows
from ``seconds`` and the round's nominal length on a 4-vCPU host
(``ROUND_S``), never from the clock, so a slow host does not shrink the
sample.
The client drives the engine only through its public functions.
"""

from __future__ import annotations

import os
import random
import time

from spans import plan_ms

METRICS = ["demand", "income", "traffic", "competition"]
FLAG_STATUSES = ["shortlist", "review", "reject"]
INGEST_BATCH = {"exact": 30, "near": 30, "novel": 30, "resubmit": 10}
# the stages plans.pipeline.run_pipeline commits, in order
STAGES = ["dev_signals_by_h3", "doc_tiles", "training_corpus", "location_features",
          "hotspot_scores", "huff_features", "scored_locations"]
# bench.BENCH_QUERIES entries no pipeline stage or app endpoint reaches
ROSTER = ["emerging_hotspots", "catchment_isochrone", "knn_competitors", "dedup_simhash"]


class Op:
    """One timed client operation and what the trace saw of it."""

    __slots__ = ("kind", "name", "seconds", "build_s", "exec_s", "plan_ms", "write_s",
                 "span", "error")

    def __init__(self, kind: str, name: str):
        self.kind = kind  # "read", "write" or "ingest"
        self.name = name
        self.seconds = 0.0
        self.build_s = 0.0
        self.exec_s = 0.0
        self.plan_ms = 0.0
        self.write_s = 0.0
        self.span = None
        self.error: str | None = None


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.rng = random.Random(ctx.seed)
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.checks = 0
        self.warmed = 0

    def attempt(self, op: Op, rid: int) -> None:
        with self.tr.request(rid), self.tr.span(f"{op.kind}.{op.name}") as sp:
            op.span = sp
            t = time.perf_counter()
            try:
                self.run_op(op)
            except Exception as e:  # noqa: BLE001  counted, never hidden
                op.error = f"{op.name}: {type(e).__name__}: {str(e)[:300]}"
                self.failures.append(op.error)
            op.seconds = time.perf_counter() - t

    def warm_up(self, ops: list[Op]) -> None:
        """Untimed operations at the end of set-up: the first call of each
        plan pays JIT and code generation."""
        for op in ops:
            self.attempt(op, 0)
        self.warmed = len(ops)

    def timed_loop(self, seconds: float) -> float:
        """Run ``seconds / ROUND_S`` whole rounds (at least one); returns
        the wall time they took."""
        t0 = time.perf_counter()
        for _ in range(max(1, round(seconds / self.ROUND_S))):
            for op in self.round():
                self.attempt(op, len(self.ops) + 1)
                self.ops.append(op)
        return time.perf_counter() - t0

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def read(self, op: Op, build, pin: bool = False):
        """Build a DataFrame, then collect it to the client (pandas);
        returns the DataFrame the client holds and the rows.  ``pin``
        checkpoints the result first, so a later call can reuse it without
        re-running the plan."""
        t = time.perf_counter()
        with self.tr.span("build"):
            df = build()
        t1 = time.perf_counter()
        with self.tr.span("exec"):
            held = df.localCheckpoint(eager=True) if pin else df
            out = held.toPandas()
        op.build_s += t1 - t
        op.exec_s += time.perf_counter() - t1
        if self.tr.enabled:
            op.plan_ms += plan_ms(df)
        return held, out


# ---------------------------------------------------------------------------
# analyst_session
# ---------------------------------------------------------------------------

class AnalystSession(Workload):
    """Interactive app reads over committed gold, plus flag write-backs.

    Set-up: start the session, run the pipeline once cold (``refresh``:
    ``load_all`` and the seven gold stages, published as views), run one
    pass of the roster-only operators (``roster``), then one untimed
    round."""

    ROUND_S = 2.4
    ENDPOINTS = [
        "scored_locations", "location_detail", "heatmap", "similar_locations",
        "daypart_trade_area", "whatif_cannibalization", "confidence_intervals",
        "compare_sites", "scoring_features",
    ]

    def setup(self) -> None:
        sp = self.spark
        self.refresh()
        self.roster()
        sites = sp.table("sites").select("site_id", "metro", "site_type").toPandas()
        self.site_ids = sorted(int(i) for i in sites["site_id"])
        self.candidates = sorted(int(i) for i in sites.loc[sites.site_type == "candidate", "site_id"])
        self.metros = sorted(set(sites["metro"]))
        self.flag_path = os.path.join(self.ctx.work, "flags")
        self.flag_seq = 0
        self.latest_flag: dict[int, str] = {}
        self.responses: list[tuple[str, dict, object]] = []
        self.warm_up(self.round())

    def refresh(self) -> None:
        """One cold ``plans.pipeline.run_pipeline`` into the run's fresh
        stage root: ``load_all``, then the seven stages, each built,
        committed, histogrammed and published as a gold view.  Traced per
        stage: the stage function call is ``pipeline.<stage>.build``, its
        ``iceberg.write_stage`` call ``pipeline.<stage>.exec``; the rest of
        the loop (mainly the partition-histogram job) is the self time of
        ``pipeline.run``."""
        from geospatial_store_siting_spark.operators import dev_signals, features, huff, scoring
        from geospatial_store_siting_spark.plans import pipeline
        from geospatial_store_siting_spark.sources import iceberg

        builds = [
            (dev_signals, "dev_signals_by_h3"),
            (pipeline, "_doc_tiles_stage"),
            (pipeline, "_training_corpus_stage"),
            (features, "location_features"),
            (pipeline, "_hotspot_stage"),
            (huff, "huff_features"),
            (scoring, "score_candidates"),
        ]
        # run_pipeline resolves these module attributes at call time
        undo = [self.tr.wrap(m, attr, f"pipeline.{st}.build")
                for (m, attr), st in zip(builds, STAGES)]
        undo.append(self.tr.wrap(
            iceberg, "write_stage",
            lambda a, kw: f"pipeline.{a[2] if len(a) > 2 else kw['name']}.exec"))
        try:
            with self.tr.span("pipeline.run"):
                report = pipeline.run_pipeline(self.spark, self.ctx.sf_dir)
        finally:
            for u in undo:
                u()
        self.stage_rows = {st["stage"]: st["rows"] for st in report["stages"]}

    def roster(self) -> None:
        """One pass of the operators only ``bench.py``'s roster reaches,
        each built and then forced with ``bench.force`` (both imported from
        ``bench.py`` unchanged)."""
        import bench

        for q in ROSTER:
            with self.tr.span(f"roster.{q}"):
                with self.tr.span("build"):
                    df = bench.BENCH_QUERIES[q](self.spark)
                bench.force(df)

    def round(self) -> list[Op]:
        names = list(self.ENDPOINTS)
        self.rng.shuffle(names)
        ops = [Op("read", n) for n in names]
        ops.insert(self.rng.randrange(len(ops) + 1), Op("write", "flag_site"))
        return ops

    def params(self, name: str) -> dict:
        r = self.rng
        if name == "scored_locations":
            return {"metro": r.choice(self.metros), "tier": r.choice("ABCD")}
        if name == "heatmap":
            return {"metric": r.choice(METRICS), "metro": r.choice(self.metros)}
        if name == "compare_sites":
            return {"site_ids": sorted(r.sample(self.site_ids, r.randint(2, 4)))}
        if name == "whatif_cannibalization":
            return {"site_id": r.choice(self.candidates)}
        return {"site_id": r.choice(self.site_ids)}

    def run_op(self, op: Op) -> None:
        from geospatial_store_siting_spark.operators import app_queries as aq

        sp = self.spark
        if op.kind == "write":
            site = self.rng.choice(self.site_ids)
            status = self.rng.choice(FLAG_STATUSES)
            self.flag_seq += 1
            t = time.perf_counter()
            with self.tr.span("app.flag.write"):
                aq.flag_site(sp, self.flag_path, site, status, "perfbench", self.flag_seq)
            op.write_s = time.perf_counter() - t
            self.latest_flag[site] = status
            with self.tr.span("app.flag.read"):
                _, back = self.read(op, lambda: aq.flagged_with_scores(sp, self.flag_path))
            self.checks += 1
            got = dict(zip(back["site_id"].astype(int), back["status"]))
            if got != self.latest_flag:
                self.fail(f"flagged_with_scores after seq {self.flag_seq}: "
                          f"{len(got)} sites, expected latest-wins of {len(self.latest_flag)}")
            return
        p = self.params(op.name)
        fn = getattr(aq, op.name)
        _, out = self.read(op, lambda: fn(sp, **p))
        self.responses.append((op.name, p, out))

    def check(self) -> None:
        """The seven gold stages and a seeded sample of responses against
        their DuckDB oracle twins (testing.normalize + value_hash)."""
        from geospatial_store_siting_spark.operators import (
            app_queries as aq, dedup, dev_signals, features, hotspots, huff, scoring,
        )
        from geospatial_store_siting_spark.sources import documents

        con = self.ctx.duckdb()
        sp = self.spark
        gold = {
            "dev_signals_by_h3": dev_signals.dev_signals_by_h3_oracle_sql(),
            "doc_tiles": documents.doc_tiles_oracle_sql(),
            "training_corpus": dedup.training_corpus_oracle_sql(),
            "location_features": features.location_features_oracle_sql(),
            "hotspot_scores": hotspots.hotspot_gi_oracle_sql(),
            "huff_features": huff.huff_features_oracle_sql(),
            "scored_locations": scoring.score_candidates_oracle_sql(),
        }
        for name, sql in gold.items():
            self.compare(f"gold {name}", sp.table(name).toPandas(), con.execute(sql).df())
        twins = {
            "scored_locations": lambda p: (
                f"SELECT * FROM ({scoring.score_candidates_oracle_sql()}) __sc "
                f"WHERE metro = '{p['metro']}' AND tier = '{p['tier']}' "
                "ORDER BY predicted_annual_sales DESC, site_id ASC LIMIT 500"),
            # location_detail is compare_sites for one id
            "location_detail": lambda p: aq.compare_sites_oracle_sql([p["site_id"]]),
            "heatmap": lambda p: aq.heatmap_oracle_sql(p["metric"], p["metro"]),
            "similar_locations": lambda p: aq.similar_locations_oracle_sql(p["site_id"]),
            "daypart_trade_area": lambda p: aq.daypart_trade_area_oracle_sql(p["site_id"]),
            "whatif_cannibalization": lambda p: aq.whatif_cannibalization_oracle_sql(p["site_id"]),
            "confidence_intervals": lambda p: aq.confidence_intervals_oracle_sql(p["site_id"]),
            "compare_sites": lambda p: aq.compare_sites_oracle_sql(p["site_ids"]),
            "scoring_features": lambda p: aq.scoring_features_oracle_sql(p["site_id"]),
        }
        sample = random.Random(self.ctx.seed + 1).sample(
            self.responses, min(3, len(self.responses)))
        for name, p, out in sample:
            self.compare(f"{name}{p}", out, con.execute(twins[name](p)).df())

    def compare(self, what: str, got, want) -> None:
        from geospatial_store_siting_spark.testing import frames_match

        self.checks += 1
        ok, why = frames_match(got, want)
        if not ok:
            self.fail(f"{what}: {why}")


# ---------------------------------------------------------------------------
# corpus_ingest
# ---------------------------------------------------------------------------

class CorpusIngest(Workload):
    """Sequential micro-batches against the committed bucketed probe index.

    Set-up: start the session, register the base tables (the service reads
    only ``documents``, 5000 of them; the geo views are not needed), build
    the probe index
    (``dedup.ingest_probe_index``), then run one untimed warm-up batch.
    Each timed op classifies a batch of ~100 arrivals
    (``dedup.classify_arrivals``, verdicts collected to the client) and
    commits its novel docs (``dedup.commit_arrivals``)."""

    ROUND_S = 2.5

    def setup(self) -> None:
        from geospatial_store_siting_spark.operators import dedup
        from geospatial_store_siting_spark.sources import tables

        sp, sf = self.spark, self.ctx.sf_dir
        tables.register_tables(sp, sf)
        with self.tr.span("ingest.index_build"):
            fp_idx, _, _ = dedup.ingest_probe_index(sp, sf)
            members = fp_idx.select("exact_match").toPandas()
        docs = sp.table("documents").select("doc_id", "text").toPandas()
        self.text = dict(zip(docs["doc_id"].astype(int), docs["text"]))
        # exact-copy labels come from the index's real membership: the
        # index holds one owner per fingerprint and excludes the split
        self.indexed = sorted(int(d) for d in members["exact_match"])
        self.next_id = 10 ** 9
        self.prev_novel: list[str] = []
        self.counts = {"exact_dup": 0, "near_dup": 0, "novel": 0}
        self.labelled = {"exact_dup": 0, "near_dup": 0, "novel": 0}
        self.batch_no = 0
        # an edit past the last shingle's words leaves every shingle, so
        # the minhash signature, unchanged: such a copy must be near_dup
        self.window = dedup.MAX_SHINGLES + dedup.N_SHINGLE_WORDS - 1
        # the first batch still pays JIT and code generation
        self.warm_up(self.round())

    def round(self) -> list[Op]:
        # later batches probe more appended files; the batch count follows
        # from ``seconds`` alone, so that growth is the same in every run
        return [Op("ingest", "batch")]

    def make_batch(self):
        """~100 seeded arrivals with generator-known labels."""
        r = self.rng
        rows, labels = [], {}

        def add(t: str, label: str | None) -> None:
            rows.append((self.next_id, t))
            if label:
                labels[self.next_id] = label
            self.next_id += 1

        for d in r.sample(self.indexed, INGEST_BATCH["exact"]):
            add(self.text[d], "exact_dup")
        for d in r.sample(self.indexed, INGEST_BATCH["near"]):
            words = self.text[d].split(" ")
            i = r.randrange(len(words))
            words[i] = "edited"  # a word no generated text holds
            # an edit inside the window may or may not reach the 0.5
            # threshold (it depends on the doc's length): counted only
            add(" ".join(words), "near_dup" if i >= self.window else None)
        novel = []
        for _ in range(INGEST_BATCH["novel"]):
            n = r.randint(12, 60)
            t = " ".join(f"w{r.getrandbits(40):x}" for _ in range(n))
            novel.append(t)
            add(t, "novel")
        for t in self.prev_novel[: INGEST_BATCH["resubmit"]]:
            add(t, "exact_dup")  # committed by the previous batch
        self.prev_novel = novel
        return rows, labels

    def run_op(self, op: Op) -> None:
        from geospatial_store_siting_spark.operators import dedup

        sp, sf = self.spark, self.ctx.sf_dir
        rows, labels = self.make_batch()
        self.batch_no += 1
        arrivals = sp.createDataFrame(rows, "doc_id bigint, text string")
        # pin the verdicts, hand them to the client, then commit the
        # batch's novel docs from the same pinned verdicts
        classified, verdicts = self.read(
            op, lambda: dedup.classify_arrivals(sp, arrivals, sf_dir=sf), pin=True)
        t = time.perf_counter()
        with self.tr.span("ingest.commit"):
            dedup.commit_arrivals(sp, arrivals, sf, classified=classified)
        op.write_s = time.perf_counter() - t
        got = dict(zip(verdicts["doc_id"].astype(int), verdicts["status"]))
        for status in got.values():
            self.counts[status] = self.counts.get(status, 0) + 1
        for want in labels.values():
            self.labelled[want] += 1
        self.checks += 1
        bad = [(d, want, got.get(d)) for d, want in labels.items() if got.get(d) != want]
        if len(got) != len(rows):
            self.fail(f"batch {self.batch_no}: {len(got)} verdicts for {len(rows)} arrivals")
        if bad:
            self.fail(f"batch {self.batch_no}: {len(bad)} of {len(labels)} labelled "
                      f"arrivals misclassified, e.g. {bad[:3]}")

    def check(self) -> None:
        pass  # every batch is checked against its labels as it runs


WORKLOADS = {"analyst_session": AnalystSession, "corpus_ingest": CorpusIngest}
