"""The benchmark workloads: inputs, the timed call, output checks, and
the layer steps each one adds to the traced run.

Every workload is a closed loop with one client: the next call starts
only after the previous one (and its sink) has finished. Inputs are a
pure function of the seed; the package only ever sees generated data.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from naruhodo_spark import api, pipeline, storage, synth
from naruhodo_spark import sparql as SQ
from naruhodo_spark.operators import agg as O_agg
from naruhodo_spark.operators import canon as O_canon
from naruhodo_spark.operators import cooccur as O_cooccur
from naruhodo_spark.operators import graphstats as O_graphstats
from naruhodo_spark.operators import link as O_link
from naruhodo_spark.operators.normalize import flat_to_spans

import tracing


def fingerprint(df: DataFrame, mass: str | None = None) -> dict:
    """Order-insensitive fingerprint: row count, xor of row hashes and,
    when given, the sum of one numeric column. Doubles are rounded to 9
    places so summation order cannot flip the hash. Computing it runs
    the whole plan, so it doubles as the call's sink."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 9)
        cols.append(c)
    aggs = [F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")]
    if mass:
        aggs.append(F.sum(mass).alias("m"))
    row = df.agg(*aggs).first()
    out = {"rows": int(row["n"]), "xor": int(row["h"] or 0)}
    if mass:
        out["mass"] = float(row["m"] or 0.0)
    return out


def _same_fp(a: dict, b: dict, tol: float = 1e-6) -> bool:
    return (
        a["rows"] == b["rows"]
        and a["xor"] == b["xor"]
        and abs(a.get("mass", 0.0) - b.get("mass", 0.0)) <= tol
    )


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def cached_ref(ctx, key: str, compute) -> dict:
    """A reference output, cached in the checkout per (key, seed, code):
    ``ctx.code_hash`` covers the package and the benchmark sources, so a
    reference computed by other code is never reused."""
    path = ctx.cache_dir / f"{key}-seed{ctx.seed}-{ctx.code_hash}.json"
    if path.is_file():
        return json.loads(path.read_text())
    ref = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(ref, sort_keys=True))
    tmp.replace(path)
    return ref


class Workload:
    """One closed-loop workload over a generated synth corpus: inputs, the
    timed call, its output check and what it adds to the traced pass."""

    name = ""
    n_docs = 0
    parts_per_core = 1  # parquet files of the materialized input, per core
    min_calls = 1
    ops_per_call = 1  # facade or pipeline calls made by one timed call

    def __init__(self, ctx):
        self.ctx = ctx
        self.ref: dict = {}

    @property
    def path(self) -> str:
        return str(self.ctx.work / f"{self.name}_docs")

    def docs(self) -> DataFrame:
        return self.ctx.spark.read.parquet(self.path)

    def materialize(self) -> None:
        """Write the generated inputs (set-up, once per set-up rep)."""
        synth.synth_documents(
            self.ctx.spark, self.n_docs, seed=self.ctx.seed,
            num_partitions=self.parts_per_core * self.ctx.nproc,
        ).write.mode("overwrite").parquet(self.path)

    def load_ref(self) -> None:
        self.ref = cached_ref(self.ctx, f"{self.name}-{self.n_docs}", self.reference)

    def profile_input(self) -> tuple[pd.DataFrame, str]:
        """(docs with a task-id column, that column) for the vchunk profile."""
        docs = self.docs().withColumn("_task", F.spark_partition_id())
        return docs.toPandas(), "_task"

    def reference(self) -> dict:
        """The expected output, from a plan independent of the timed one."""
        raise NotImplementedError

    def call(self):
        raise NotImplementedError

    def check(self, result) -> int:
        """How many of the call's ``ops_per_call`` operations failed."""
        raise NotImplementedError

    def docs_triples_per_call(self, results: list) -> tuple[float, float]:
        raise NotImplementedError

    def layer_steps(self, tracer) -> dict[str, float]:
        """Extra traced steps after the traced call; returns metrics."""
        raise NotImplementedError

    def log_metrics(self, tracer, log, per_call: list[set[int]]) -> dict[str, float]:
        """Metrics from the parsed event log; ``per_call`` holds the span
        ids under each traced call."""
        raise NotImplementedError


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _within(tracer, ids: set[int], names) -> set[int]:
    """Span ids under the spans in ``ids`` whose name is in ``names``."""
    return {
        d for s in tracer.spans if s["id"] in ids and s["name"] in names
        for d in tracer.subtree(s["id"])
    }


def _span_sum(tracer, ids: set[int], name: str) -> float:
    return sum(
        s["end"] - s["start"] for s in tracer.spans if s["id"] in ids and s["name"] == name
    )


def _agg_metrics(log, span_sets: list[set[int]]) -> dict[str, float]:
    """operators.agg: shuffle figures of the given spans, median over calls."""
    shuffles = [tracing.shuffle_metrics(log.stages_in(ids)) for ids in span_sets]
    return {
        f"agg.{key}": _median(s[key] for s in shuffles)
        for key in ("stage_s", "shuffle_write_bytes", "shuffle_records", "fetch_wait_s",
                    "spill_bytes")
    }


# ---------------------------------------------------------------------
# build_synth
# ---------------------------------------------------------------------

class BuildSynth(Workload):
    name = "build_synth"
    n_docs = 5_000
    parts_per_core = 2
    min_calls = 3

    def _kg(self, **kw):
        return pipeline.build_kg(
            self.docs(), aliases=synth.alias_dictionary(self.ctx.spark), **kw
        )

    def call(self):
        return fingerprint(self._kg()["ksg_edges"], mass="weight")

    def reference(self):
        kg = self._kg(triple_plan="relational")
        return {"edges": fingerprint(kg["ksg_edges"], mass="weight")}

    def check(self, result):
        return int(not _same_fp(result, self.ref["edges"]))

    def docs_triples_per_call(self, results):
        # triples that reach the graph: sum of ksg_edges.weight
        return self.n_docs, _median(r["mass"] for r in results)

    def layer_steps(self, tracer):
        """The skew probe on this build's triples, then the resume_sf
        scenario (storage, pipeline, finalize steps)."""
        with tracer.span("agg.should_salt_edges"):
            t0 = time.perf_counter()
            salted = O_agg.should_salt_edges(self._kg()["triples_linked"])
            out = {"agg.skew_probe_s": time.perf_counter() - t0}
        out["agg.salted"] = float(bool(salted))
        self.ctx.attempted += 1
        try:
            resume, failed = ResumeSf(self.ctx).run_traced(tracer)
            out.update(resume)
        except Exception:  # the resume failed: count it, keep the other layers
            traceback.print_exc()
            failed = 1
        self.ctx.failed += failed
        return out

    def log_metrics(self, tracer, log, per_call):
        return {**_agg_metrics(log, per_call), **resume_log_metrics(tracer, log)}


# ---------------------------------------------------------------------
# resume_sf
# ---------------------------------------------------------------------

# Vocabulary and length law of the testdata ``documents`` table: every
# doc is one run-on sentence of 10–99 words drawn uniformly from these
# 30 words, so no alias matches and no pronouns occur.
SF_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SF_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def sf_documents(n: int, seed: int) -> pd.DataFrame:
    """Flat (doc_id, text, lang, source, n_chars) docs shaped like sf0.1."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 100, size=n)
    words = np.asarray(SF_VOCAB, dtype=object)[rng.integers(0, len(SF_VOCAB), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(SF_LANGS, dtype=object)[rng.integers(0, len(SF_LANGS), size=n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.fromiter((len(t) for t in texts), dtype=np.int64, count=n),
        }
    )


class ResumeSf:
    """Kill-resume of the spark-submit entry over sf0.1-shaped text.

    Not a timed workload (see README): build_synth's traced pass runs it
    once for the storage, pipeline, link and canon layers. The killed
    job is re-created by committing a fixed subset of part_ids, never by
    appending docs: new doc_ids hash into every part and change every
    part's fingerprint, so nothing would be skipped."""

    n_flat = 5_000  # documents in the sf0.1 table
    replicate = 2
    n_parts = 8
    committed = (0, 1, 2, 3)  # part_ids the killed run had finished

    def __init__(self, ctx):
        self.ctx = ctx
        self.docs_path = str(ctx.work / "resume_sf_docs")
        self.out_dir = str(ctx.work / "resume_sf_out")

    def docs(self) -> DataFrame:
        return self.ctx.spark.read.parquet(self.docs_path)

    def materialize(self) -> None:
        flat = self.ctx.spark.createDataFrame(sf_documents(self.n_flat, self.ctx.seed))
        docs = synth.replicate_docs(flat_to_spans(flat), self.replicate)
        docs.repartition(2 * self.ctx.nproc).write.mode("overwrite").parquet(self.docs_path)

    def _run(self, docs: DataFrame) -> dict:
        # the spark-submit entry's call (build_kg.py): synth alias
        # dictionary, salted=False, one wave, no provenance table
        spark = self.ctx.spark
        return pipeline.run_partitioned(
            spark, docs, self.out_dir, n_parts=self.n_parts,
            aliases=synth.alias_dictionary(spark), salted=False,
        )

    def _parts(self, committed: bool) -> DataFrame:
        """Docs (with part_id) in the committed parts, or in the others."""
        part = pipeline.with_part_id(self.docs(), self.n_parts)
        done = F.col("part_id").isin(list(self.committed))
        return part.where(done if committed else ~done)

    def reference(self) -> dict:
        """An uninterrupted build over the same corpus, and what the
        resumed call must process."""
        kg = pipeline.build_kg(self.docs(), aliases=synth.alias_dictionary(self.ctx.spark))
        stats = self._parts(committed=False).agg(
            F.count(F.lit(1)).alias("docs"), F.countDistinct("part_id").alias("parts")
        ).first()
        return {
            "edges": fingerprint(kg["ksg_edges"], mass="weight"),
            "pending_docs": int(stats["docs"]),
            "pending_parts": int(stats["parts"]),
        }

    def check(self, counters: dict, ref: dict) -> int:
        got = fingerprint(
            storage.read_table(self.ctx.spark, "ksg_edges", self.out_dir), mass="weight"
        )
        return int(
            not _same_fp(got, ref["edges"])
            or counters["parts_processed"] != ref["pending_parts"]
            or counters["docs"] != ref["pending_docs"]
        )

    def run_traced(self, tracer) -> tuple[dict[str, float], int]:
        """Seed; time the resume anti-join alone; resume and check it;
        then time finalize's public steps one by one over the stored
        triples_raw. Returns the metrics and whether the check failed."""
        spark = self.ctx.spark
        out: dict[str, float] = {}

        def timed(name, fn):
            with tracer.span(name):
                t0 = time.perf_counter()
                r = fn()
                out[name + "_s"] = time.perf_counter() - t0
            return r

        with tracer.span("resume_sf.materialize"):
            self.materialize()
        with tracer.span("resume_sf.reference"):
            ref = cached_ref(
                self.ctx, f"resume_sf-{self.n_flat}x{self.replicate}-p{self.n_parts}",
                self.reference,
            )
        with tracer.span("resume_sf.seed"):
            shutil.rmtree(self.out_dir, ignore_errors=True)
            self._run(self._parts(committed=True).drop("part_id"))
            seeded = _files(self.out_dir)
        docs_p = pipeline.with_part_id(self.docs(), self.n_parts)
        timed(
            "pipeline.pending_parts",
            lambda: _noop(pipeline.pending_parts(spark, docs_p, self.out_dir)),
        )
        with tracer.span("resume_sf.call"):
            counters = self._run(self.docs())
        new = {p: st for p, st in _files(self.out_dir).items() if seeded.get(p) != st}
        with tracer.span("resume_sf.check"):
            failed = self.check(counters, ref)
        processed = counters["parts_processed"]
        out["pipeline.parts_processed"] = processed
        out["pipeline.parts_skipped"] = self.n_parts - processed
        out["pipeline.skip_ratio"] = (self.n_parts - processed) / self.n_parts
        out["pipeline.docs_extracted"] = counters["docs"]
        out["storage.bytes_written"] = sum(size for size, _ in new.values())
        out["storage.files_written"] = len(new)

        aliases = synth.alias_dictionary(spark)
        raw = storage.read_table(spark, "triples_raw", self.out_dir)
        linked = timed("link.link_entities", lambda: _persist(O_link.link_entities(raw, aliases)))
        labels = timed("canon.alias_cc_labels", lambda: _persist(O_canon.alias_cc_labels(aliases)))
        t = timed(
            "canon.apply_labels", lambda: _persist(O_canon.apply_canonical_labels(linked, labels))
        )
        timed("agg.aggregate_edges", lambda: _noop(O_agg.aggregate_edges(t)))
        timed("agg.aggregate_nodes", lambda: _noop(O_agg.aggregate_nodes(t)))
        for df in (t, labels, linked):
            df.unpersist()
        return out, failed


def resume_log_metrics(tracer, log) -> dict[str, float]:
    """pipeline/storage figures of the traced resume call, if it ran."""
    call = next((s for s in tracer.spans if s["name"] == "resume_sf.call"), None)
    if call is None:
        return {}
    ids = tracer.subtree(call["id"])
    return {
        "pipeline.jobs": len(log.jobs_in(ids)),
        "storage.write_s": _span_sum(tracer, ids, "storage.write_table"),
        "storage.delete_partitions_s": _span_sum(tracer, ids, "storage.delete_partitions"),
    }


def _files(base: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every file under ``base``."""
    out = {}
    for dirpath, _, names in os.walk(base):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            out[os.path.join(dirpath, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


# ---------------------------------------------------------------------
# graph_facade
# ---------------------------------------------------------------------

SPARQL_SELECT = "SELECT ?s ?o WHERE { ?s joined ?o }"

# (name, facade call, fingerprint mass column), every call with the
# facade's defaults. communities() takes no arguments: the second
# `communities` definition in api.py shadows the label-propagation one
# and takes only keyword arguments
SCRIPT = (
    ("edges", lambda p: p.edges, "weight"),
    ("pagerank", lambda p: p.pagerank(), "rank"),
    ("k_core", lambda p: p.k_core(), None),
    ("communities", lambda p: p.communities(), None),
    ("spread_types", lambda p: p.spread_types(), None),
    ("top_facts", lambda p: p.top_facts(), None),
    ("sparql", lambda p: p.sparql(SPARQL_SELECT), None),
)
GRAPH_CALLS = ("pagerank", "k_core", "spread_types", "top_facts")


class GraphFacade(Workload):
    name = "graph_facade"
    n_docs = 600  # the script costs per-job overhead; its triple count varies ~3% by seed
    ops_per_call = len(SCRIPT)

    def parser(self):
        spark = self.ctx.spark
        return api.parser(spark, aliases=synth.alias_dictionary(spark)).add_documents(
            self.docs()
        )

    def call(self):
        """The whole script on a fresh parser, one fingerprint per call."""
        p = self.parser()
        fps, errors = {}, []
        for name, fn, mass in SCRIPT:
            try:
                with self.ctx.span(f"api.{name}"):
                    fps[name] = fingerprint(fn(p), mass=mass)
            except Exception:  # one failed facade call must not end the script
                traceback.print_exc()
                errors.append(name)
        return {"fps": fps, "errors": errors}

    def reference(self):
        """The operators behind each facade call, with the facade's
        defaults, over the relational plan's graph, materialized once."""
        kg = pipeline.build_kg(
            self.docs(), aliases=synth.alias_dictionary(self.ctx.spark),
            triple_plan="relational",
        )
        # edges and nodes both derive from triples_linked: extract once
        linked = _persist(kg["triples_linked"])
        edges, nodes = (kg[t].localCheckpoint() for t in ("ksg_edges", "ksg_nodes"))
        seeds = nodes.where(F.col("etype") > 0).select(
            F.col("name").alias("node"),
            F.concat(F.lit("etype:"), F.col("etype").cast("string")).alias("label"),
        )
        ops = {
            "edges": lambda: edges,
            "pagerank": lambda: O_graphstats.pagerank(edges),
            "k_core": lambda: O_graphstats.k_core(edges, 2),
            "communities": lambda: O_cooccur.entity_communities(linked),
            "spread_types": lambda: O_graphstats.spread_labels(edges, seeds),
            "top_facts": lambda: O_graphstats.top_facts(edges),
            "sparql": lambda: SQ.sparql_select(edges, SPARQL_SELECT),
        }
        fps = {name: fingerprint(ops[name](), mass=mass) for name, _, mass in SCRIPT}
        linked.unpersist()
        return {"fps": fps}

    def check(self, result):
        fps = result["fps"]
        bad = set(result["errors"])
        pr = fps.get("pagerank")
        if pr is not None and abs(pr["mass"] - 1.0) > 1e-6:
            bad.add("pagerank")
        bad.update(n for n, fp in fps.items() if not _same_fp(fp, self.ref["fps"][n]))
        return len(bad)

    def docs_triples_per_call(self, results):
        # corpus docs and graph triples (sum of edge weights) per script
        masses = [r["fps"]["edges"]["mass"] for r in results if "edges" in r["fps"]]
        return self.n_docs, _median(masses)

    def layer_steps(self, tracer):
        """The SPARQL operator alone, over edges materialized beforehand."""
        edges = self.parser().edges.localCheckpoint()
        with tracer.span("sparql.sparql_select"):
            t0 = time.perf_counter()
            fingerprint(SQ.sparql_select(edges, SPARQL_SELECT))
            return {"sparql.select_s": time.perf_counter() - t0}

    def log_metrics(self, tracer, log, per_call):
        out = _agg_metrics(log, [_within(tracer, ids, {"api.edges"}) for ids in per_call])
        boundary = [tracing.boundary_metrics(log.stages_in(ids)) for ids in per_call]
        out["api.extract_stages"] = _median(b["extract_stages"] for b in boundary)
        out["api.extract_s"] = _median(b["extract_s"] for b in boundary)
        for name, _, _ in SCRIPT:
            out[f"api.{name}_s"] = _median(_span_sum(tracer, ids, f"api.{name}") for ids in per_call)
        graph = [_within(tracer, ids, {f"api.{n}" for n in GRAPH_CALLS}) for ids in per_call]
        out["graphstats.jobs"] = _median(len(log.jobs_in(g)) for g in graph)
        out["graphstats.shuffle_bytes"] = _median(
            tracing.shuffle_metrics(log.stages_in(g))["shuffle_write_bytes"] for g in graph
        )
        return out


WORKLOADS = {w.name: w for w in (BuildSynth, GraphFacade)}
