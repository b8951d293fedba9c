"""Workload ``rag_serve``: the app's stage chain builds a store and an
ANN serving root, then one closed-loop client asks a seeded question
stream through ``app.query``.

Setup runs ``app.run_chain(spark, catalog, workdir, "1>4>5>7>10")``
(extract > transform > load > curate > index) over a generated catalog
with the stub boundaries the chain defaults to (``hash_embed``,
``identity_clean``) and checks the counts it reports against the
generator. Each question is then asked flat, ANN, flat:
``use_index=False`` (multi-topic flat retrieval) and ``use_index=True``
(the sq8 serving root). A parser stub returns the question's generated
``ParsedQuery``; a synthesizer stub records the context rows it
receives and cites the first one.

The stream is measured in whole cycles of one question of each shape
(``corpus.SHAPES``: two topics, show + year range, unfiltered). op1 =
the geometric mean over the shapes of each shape's median flat-question
latency, op2 = the same on the ANN path.

The traced run also runs the chain's incremental phase (the catalog
plus 10% new videos) and a rerun of the unchanged catalog, which must
add nothing.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from perfbench import corpus, harness
from perfbench.trace import NULL

N_VIDEOS = 100
DELTA_SHARE = 0.1
N_QUESTIONS = 64
WARMUP_QUESTION = N_QUESTIONS - 1
CYCLE = len(corpus.SHAPES)  # questions 0..CYCLE-1 hold one of each shape
CHAIN = "1>4>5>7>10"
STAGES = {"1": "extract", "4": "transform", "5": "load", "7": "curate", "10": "index"}
PATHS = {"flat": False, "ann": True}
MEASURED_ORDER = ("flat", "ann", "flat")


def _catalog_schema():
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    from kfai_pipeline_spark.sources.video_records import RAW_SNIPPET_SCHEMA

    return StructType([
        StructField("id", LongType()),
        StructField("video_id", StringType()),
        StructField("show_name", StringType()),
        StructField("hosts", ArrayType(StringType())),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("published_at", LongType()),
        StructField("duration", LongType()),
        StructField("transcript", RAW_SNIPPET_SCHEMA),
    ])


class Synthesizer:
    """Records the context rows it receives and cites the first one."""

    def __init__(self):
        self.rows: list[dict] = []
        self.entered = self.exited = 0.0

    def __call__(self, question: str, rows: list[dict]):
        from kfai_pipeline_spark.plans.rag import Citation

        self.entered = time.time()
        self.rows = rows
        cite = [Citation(rows[0]["video_id"], rows[0]["start_time"])] if rows else []
        self.exited = time.time()
        return f"answer to {question}", cite


class Rag:
    def __init__(self, ctx):
        self.ctx = ctx
        self.workdir = os.path.join(ctx.work, "workspace")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        self.phase_stats: dict[str, dict] = {}
        self.recall: list[float] = []
        self.texts: dict = {}  # boundary -> accumulator, set by instrument_chain
        self.text_marks: dict[str, dict[str, int]] = {}  # phase -> texts counted

    # ------------------------------------------------------------ setup
    def setup(self, tracer=NULL) -> None:
        """Corpus, the chain's full phase (traced: also the incremental
        phase and the unchanged-catalog rerun), the store's keys for the
        citation check and a warm-up question."""
        from kfai_pipeline_spark.operators.embed import hash_embed

        spark, seed = self.ctx.spark, self.ctx.seed
        t = time.perf_counter()
        self.videos = corpus.make_videos(seed, N_VIDEOS)
        self.delta = corpus.make_videos(seed, int(N_VIDEOS * DELTA_SHARE), first_id=N_VIDEOS)
        questions = corpus.make_questions(seed, self.videos, N_QUESTIONS)
        self.parsed = {q.text: q.parsed for q in questions}
        self.questions = [q.text for q in questions]
        self.embedder = hash_embed
        schema = _catalog_schema()
        catalog = spark.createDataFrame(self.videos, schema)
        self.layers["setup.inputs_s"] = time.perf_counter() - t

        full = corpus.expected_counts(self.videos)
        if not tracer.active:
            self.run_phase("full", catalog, full, tracer)
        else:
            catalog_next = spark.createDataFrame(self.videos + self.delta, schema)
            self.instrument_chain(tracer)
            self.run_phase("full", catalog, full, tracer)
            self.run_phase("incr", catalog_next, corpus.expected_counts(self.delta), tracer)
            self.run_phase("rerun", catalog_next, {"new_videos": 0, "chunks_added": 0}, tracer)
            tracer.restore()
        store = pq.read_table(os.path.join(self.workdir, "store"),
                              columns=["video_id", "start_time"]).to_pylist()
        self.store_keys = {(r["video_id"], int(r["start_time"])) for r in store}

        # the query path's own first-call costs: a first question after
        # the chain runs ~30% slower than later ones. One flat question
        # pays those both paths share (store read, scoring, dedup, cite).
        t = time.perf_counter()
        self.ask(WARMUP_QUESTION, "flat")
        self.layers["setup.warmup_s"] = time.perf_counter() - t

    def run_phase(self, phase: str, catalog, expected: dict[str, int], tracer) -> None:
        """One chain run; its extract/load counts must equal ``expected``.
        Traced, it also records the texts the stub boundaries saw."""
        from kfai_pipeline_spark import app

        self.attempted += 1
        texts_before = {k: a.value for k, a in self.texts.items()}
        t = time.perf_counter()
        try:
            tracer.tags["phase"] = phase
            with tracer.span(f"etl.{phase}"):
                stats = app.run_chain(self.ctx.spark, catalog, self.workdir, CHAIN)
            tracer.harvest()
            got = {
                "new_videos": stats["extract"]["new_videos"],
                "chunks_added": stats["load"]["chunks_added"],
            }
            if got != expected:
                raise AssertionError(f"{phase}: chain reported {got}, expected {expected}")
        except Exception as e:  # noqa: BLE001 - every failure counts against the run
            self.failed += 1
            self.errors.append(f"etl.{phase}: {type(e).__name__}: {e}"[:300])
            stats = {}
        self.phase_stats[phase] = {"wall_s": time.perf_counter() - t, **stats}
        self.text_marks[phase] = {k: a.value - texts_before[k] for k, a in self.texts.items()}

    # ---------------------------------------------------------- measure
    def ask(self, i: int, path: str, tracer=NULL):
        """One question on one path, checked; returns (wall, context keys)."""
        from kfai_pipeline_spark import app

        text = self.questions[i % len(self.questions)]
        parsed = self.parsed[text]
        synth = Synthesizer()
        self.attempted += 1
        t = time.perf_counter()
        try:
            tracer.tags["path"] = path
            with tracer.span(f"rag.{path}.question") as span:
                with tracer.span(f"app.query.{path}"):
                    _, sources = app.query(self.ctx.spark, self.workdir, text,
                                           lambda q: parsed, self.embedder, synth,
                                           use_index=PATHS[path])
                cited = sources.collect()
            span.marks.update(synth_in=synth.entered, synth_out=synth.exited)
            wall = time.perf_counter() - t
            self.check(synth.rows, cited)
        except Exception as e:  # noqa: BLE001 - every failure counts against the run
            self.failed += 1
            self.errors.append(f"{path} q{i}: {type(e).__name__}: {e}"[:300])
            return time.perf_counter() - t, set()
        return wall, {(r["video_id"], r["start_time"]) for r in synth.rows}

    def check(self, context: list[dict], cited) -> None:
        if not context:
            raise AssertionError("empty context")
        if not cited:
            raise AssertionError("no source row for the citation")
        for row in cited:
            for ts in row["timestamps"]:
                if (row["video_id"], ts) not in self.store_keys:
                    raise AssertionError(f"cited ({row['video_id']}, {ts}) is not in the store")

    def ask_paths(self, i: int, order: tuple[str, ...], tracer=NULL) -> dict:
        """Question ``i`` on each path of ``order``; returns path ->
        latencies and, once both paths answered, the ANN recall."""
        walls, keys = {path: [] for path in PATHS}, {}
        for path in order:
            wall, keys[path] = self.ask(i, path, tracer)
            walls[path].append(wall)
        if keys.get("flat") and "ann" in keys:
            walls["recall"] = len(keys["flat"] & keys["ann"]) / len(keys["flat"])
        tracer.harvest()
        return walls

    def measure(self, seconds: float) -> dict[str, dict[str, list[float]]]:
        """Whole cycles of questions, at least one, for ``seconds``. Each
        question is asked flat, ANN, flat: the flat path is the cheaper
        one and spreads more, so it gets two samples, taken either side
        of the ANN one so that warm-up still under way favours neither
        path. Returns path -> shape -> latencies."""
        out = {path: {shape: [] for shape in corpus.SHAPES} for path in PATHS}
        deadline = harness.Deadline(seconds, CYCLE)
        i = 0
        while i % CYCLE or deadline.more(i):
            walls = self.ask_paths(i, MEASURED_ORDER)
            for path in PATHS:
                out[path][corpus.SHAPES[i % CYCLE]].extend(walls[path])
            if i < CYCLE:
                self.recall.append(walls.get("recall", 0.0))
            i += 1
        return out

    # ---------------------------------------------------------- results
    @staticmethod
    def op_values(walls) -> tuple[float, float]:
        return harness.gmean_of_medians(walls["flat"]), harness.gmean_of_medians(walls["ann"])

    def agreement(self) -> float:
        """rag_ann_recall: the share of each flat context's chunks that the
        ANN context for the same question holds, averaged over the first
        measured cycle (a fixed set, so it repeats exactly for a seed)."""
        return sum(self.recall) / len(self.recall)

    def summary(self, walls) -> dict[str, tuple[float, str]]:
        flat, ann = self.op_values(walls)
        out = {
            "etl_full_s": (self.phase_stats["full"]["wall_s"], "s"),
            "rag_flat_gmean_s": (flat, "s"),
            "rag_ann_gmean_s": (ann, "s"),
            "rag_ann_recall": (self.agreement(), "ratio"),
            "rag_questions": (sum(len(w) for p in walls.values() for w in p.values()), "count"),
        }
        for path, shapes in walls.items():
            for shape, w in shapes.items():
                out[f"rag.{path}.{shape}_s"] = (harness.median(w), "s")
        return out

    # ------------------------------------------------------------ trace
    def instrument_chain(self, tracer) -> None:
        """Wrap each chain stage on the entry ``run_chain`` looks up, and
        count the texts the injected boundaries see in the Python workers."""
        from kfai_pipeline_spark import app
        from kfai_pipeline_spark.operators import embed
        from perfbench.trace import CountingFn

        for cmd, stage in STAGES.items():
            tracer.wrap(app.STAGES, cmd, f"app.{stage}.{{phase}}")
        sc = self.ctx.spark.sparkContext
        self.texts = {"embed": sc.accumulator(0), "llm_clean": sc.accumulator(0)}

        def count_embed(orig):
            def embed_texts(df, encoder=None, *args, **kwargs):
                enc = CountingFn(encoder or embed.hash_embed, self.texts["embed"], batched=True)
                return orig(df, enc, *args, **kwargs)
            return embed_texts

        def count_clean(orig):
            def clean_chunks_grouped(df, clean_fn, *args, **kwargs):
                fn = CountingFn(clean_fn, self.texts["llm_clean"], batched=False)
                return orig(df, fn, *args, **kwargs)
            return clean_chunks_grouped

        tracer.patch(app, "embed_texts", count_embed)
        tracer.patch(app, "clean_chunks_grouped", count_clean)

    @staticmethod
    def instrument_query(tracer) -> None:
        """Wrap the layers a question passes through, on the module
        attributes ``app.query`` and ``retrieve_tiered`` import at call time."""
        from kfai_pipeline_spark.operators import index_lifecycle, similarity
        from kfai_pipeline_spark.plans import rag as rag_plan

        tracer.wrap(rag_plan, "answer_query", "plans.rag.{path}.answer_query")
        for fn in ("resolve_index_path", "serving_index_kind"):
            tracer.wrap(index_lifecycle, fn, "operators.index_lifecycle.{path}.resolve")
        tracer.wrap(similarity, "sq8_topk", "operators.similarity.{path}.probe")

    def traced(self, seconds: float, tracer):
        """One traced pair of each shape, with untraced pairs of the first
        and last shape before and after their traced ones, so warm-up
        still under way favours neither side. Returns the per-layer report
        (named after the modules measured) and, per op, its traced span
        totals and the tracing overhead: the median over those two
        questions of traced minus untraced latency. The plan is fixed, so
        ``seconds`` is not used."""
        plan = [(0, False), *((i, True) for i in range(CYCLE)), (CYCLE - 1, False)]
        walls = {True: {}, False: {}}  # traced -> (path, i) -> latency
        for i, traced in plan:
            if traced:
                self.instrument_query(tracer)
            order = ("flat", "ann") if i % 2 == 0 else ("ann", "flat")
            pair = self.ask_paths(i, order, tracer if traced else NULL)
            tracer.restore()
            for path in PATHS:
                (walls[traced][path, i],) = pair[path]
        tracer.settle()

        rep: dict[str, tuple[float, str]] = {}
        for phase in ("full", "incr"):
            (root,) = tracer.find(f"etl.{phase}")
            tot = tracer.totals(root)
            rep[f"etl.{phase}_s"] = (root.wall_s, "s")
            for stage in STAGES.values():
                (span,) = tracer.find(f"app.{stage}.{phase}")
                st = tracer.totals(span)
                rep[f"app.{stage}.{phase}_s"] = (span.wall_s, "s")
                rep[f"app.{stage}.{phase}.executor_cpu_s"] = (st["executor_cpu_s"], "s")
                rep[f"app.{stage}.{phase}.jobs"] = (st["jobs"], "count")
            rep[f"sources.{phase}.read_bytes"] = (tot["input_bytes"], "bytes")
            rep[f"sources.{phase}.write_bytes"] = (tot["output_bytes"], "bytes")
            for op in ("embed", "llm_clean"):
                rep[f"operators.{op}.{phase}.texts"] = (self.text_marks[phase][op], "count")
            if phase == "full":
                rep["etl.gc_s"] = (tot["gc_s"], "s")
                rep["etl.spill_bytes"] = (tot["spill_bytes"], "bytes")
        incr = self.phase_stats["incr"]
        rep["etl.incr.read_amplification"] = (
            rep["sources.incr.read_bytes"][0] / max(1.0, rep["sources.incr.write_bytes"][0]),
            "ratio")
        rep["operators.embed.incr.useful_ratio"] = (
            incr.get("load", {}).get("chunks_added", 0)
            / max(1, rep["operators.embed.incr.texts"][0]), "ratio")

        ops = {}
        for op, path in (("op1", "flat"), ("op2", "ann")):
            questions = tracer.find(f"rag.{path}.question")
            totals = [tracer.totals(q) for q in questions]
            retrieve, cite, store_read, resolve, probe, probes = [], [], [], [], [], []
            for q in questions:
                inner = tracer.subtree(q)
                (answer,) = [s for s in inner if s.name == f"plans.rag.{path}.answer_query"]
                (query,) = [s for s in inner if s.name == f"app.query.{path}"]
                res = [s for s in inner if s.name == f"operators.index_lifecycle.{path}.resolve"]
                prb = [s for s in inner if s.name == f"operators.similarity.{path}.probe"]
                retrieve.append(q.marks["synth_in"] - answer.start)
                cite.append(q.end - q.marks["synth_out"])
                before_answer = sum(s.wall_s for s in res if s.end <= answer.start)
                store_read.append(answer.start - query.start - before_answer)
                resolve.append(sum(s.wall_s for s in res))
                probe.append(sum(s.wall_s for s in prb))
                probes.append(len(prb))
            rep[f"plans.rag.{path}.retrieve_s"] = (harness.median(retrieve), "s")
            rep[f"plans.rag.{path}.cite_s"] = (harness.median(cite), "s")
            rep[f"app.query.{path}.store_read_s"] = (harness.median(store_read), "s")
            for key, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks")):
                rep[f"plans.rag.{path}.{name}_per_q"] = (
                    harness.median(t[key] for t in totals), "count")
            rep[f"plans.rag.{path}.executor_cpu_s_per_q"] = (
                harness.median(t["executor_cpu_s"] for t in totals), "s")
            if path == "ann":
                rep["operators.index_lifecycle.ann.resolve_s"] = (harness.median(resolve), "s")
                rep["operators.similarity.ann.probe_s"] = (harness.median(probe), "s")
                rep["operators.similarity.ann.probe_calls"] = (harness.median(probes), "count")
            tail = harness.tail(w for (p, _), w in walls[True].items() if p == path)
            rep[f"rag.{path}.tail_s"] = (tail["value"], "s")
            rep[f"rag.{path}.tail_percentile"] = (tail["percentile"], "pct")
            rep[f"rag.{path}.samples"] = (tail["samples"], "count")
            overhead = harness.median(
                walls[True][key] - w for key, w in walls[False].items() if key[0] == path)
            ops[op] = (totals, overhead)
        return rep, ops
