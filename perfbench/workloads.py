"""The four workloads: build, query_warm, query_cold, update.

Each one sets up (Spark session, seeded corpus staged as Parquet, and
for the query and update workloads the index), then runs whole
operations until ``seconds`` have passed, then checks every output
against the independent reference and the properties listed in the
README. Only the public API of ``yase_spark`` is called.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import numpy as np

import corpus as gen
import reference as refmod
from spans import Tracer

K = 10
BUILD_DOCS = 3000
QUERY_DOCS = 3000
UPDATE_BASE_DOCS = 2000
DELTA_DOCS = 50
DELETE_DOCS = 10
UPDATE_QUERIES = 8       # fixed pool queries run after every update cycle
WARM_ROUND = 50          # queries between two looks at the clock
DF_SAMPLE = 60           # terms whose df is checked against the reference
PROPERTY_SAMPLE = 8      # topk queries checked for wand == dense
KERNEL_SAMPLE = 500      # docs for the tokenize kernel rate
PROBE_QUERIES = 3        # decomposed queries on workloads that run none
QUERY_SPANS = ("query.topk", "query.bool_and", "query.bool_or")
COLD_ROTATION = ("topk", "bool_and", "topk", "bool_or")
WARMUP_BUILDS = 2        # build workload: untimed builds in set-up


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def median_or_none(vals):
    return statistics.median(vals) if vals else None


def percentile(vals, q: float):
    """The q-quantile, or None unless at least ten samples lie beyond it."""
    n = len(vals)
    if n == 0 or n * (1.0 - q) < 10:
        return None
    s = sorted(vals)
    return s[min(n - 1, int(q * n))]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def content_bytes(rows) -> int:
    return sum(len(r["content"].encode()) for r in rows)


class Bench:
    """State of one benchmark process: session, tracer, counters, the
    reference, and the errors the checks found."""

    def __init__(self, spec: dict, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, t_process: float):
        self.spec = spec
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.t_process = work, t_process
        self.tr = Tracer(trace)
        self.traced = trace
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.cfg = None
        self.ref = refmod.ReferenceIndex()
        self.pool = gen.query_pool(seed)
        self._staged = 0

    # ---------------------------------------------------------- set-up
    def start_session(self, make_rows):
        """Start Spark while ``make_rows`` generates the corpus in a
        second thread (the JVM start is mostly waiting); return the rows."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as ex:
            rows = ex.submit(make_rows)
            self._start_spark()
            return rows.result()

    def _start_spark(self) -> None:
        with self.tr.span("session.start"):
            t0 = time.perf_counter()
            from yase_spark.config import IndexConfig
            from yase_spark.session import get_spark

            cpus = n_cpus()
            self.spark = get_spark(
                cpus=cpus,
                app=f"perfbench-{self.workload}",
                extra={"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")},
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.cfg = IndexConfig(shuffle_partitions=cpus)
            self.layer["session.start_s"] = time.perf_counter() - t0
        self.tr.sc = self.spark.sparkContext

    def stage(self, rows: list[dict]):
        """Write ``rows`` as Parquet inside the work dir; return the
        DataFrame that reads them back."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        with self.tr.span("bench.stage", docs=len(rows)):
            self._staged += 1
            d = os.path.join(self.work, f"corpus-{self._staged}")
            os.makedirs(d)
            parts = max(1, min(n_cpus(), len(rows) // 250))
            step = -(-len(rows) // parts)
            for i in range(parts):
                chunk = rows[i * step:(i + 1) * step]
                if chunk:
                    pq.write_table(pa.Table.from_pylist(chunk), os.path.join(d, f"part-{i}.parquet"))
            return self.spark.read.parquet(d)

    def build(self, df, root: str) -> dict:
        from yase_spark.index import build_index

        with self.tr.span("index.build"):
            return build_index(self.spark, df, root, self.cfg)

    def open_reader(self, root: str, cold: bool):
        from yase_spark.query import IndexReader

        if cold:
            IndexReader.clear_shared_meta()
        with self.tr.span("catalog.open_reader", jobs=True):
            return IndexReader(self.spark, root)

    def setup_done(self) -> None:
        self.setup_s = time.time() - self.t_process

    # ------------------------------------------------------- operations
    def run_query(self, rd, q: dict, qid=None, cold_root: str | None = None):
        """The query through the public reader call (untraced), or
        decomposed into the layer calls it is made of (traced). With
        ``cold_root`` the query first opens a fresh reader on that index
        after dropping the process-wide reader metadata."""
        if not self.traced:
            if cold_root is not None:
                rd = self.open_reader(cold_root, cold=True)
            return _public(rd, q)
        from yase_spark import query as yq
        from yase_spark.tokenize import analyze_query

        tr = self.tr
        with tr.span(f"query.{q['kind']}", qid=qid, jobs=True) as root:
            if cold_root is not None:
                rd = self.open_reader(cold_root, cold=True)
            with tr.span("tokenize.analyze_query"):
                terms = analyze_query(q["text"])
            with tr.span("query.term_dfs", jobs=True):
                rd.term_dfs(terms)
            with tr.span("query.block_meta", jobs=True):
                rd.term_block_meta(terms)
            with tr.span("query.fetch_terms", jobs=True):
                got = rd.fetch_terms(terms)
            tps = [got[t] for t in terms if got[t] is not None]
            root.attrs["postings"] = int(sum(t.doc_ids.size for t in tps))
            with tr.span("query.score"):
                if q["kind"] == "topk":
                    out = yq.dense_topk(tps, K, rd.cfg.k1, rd.cfg.b, rd.avgdl, rd.n_docs)
                elif q["kind"] == "bool_and":
                    out = (
                        np.empty(0, dtype=np.int64) if len(tps) < len(terms)
                        else yq.bool_and(tps)
                    )
                else:
                    out = yq.bool_or(tps)
        return out

    def timed(self, fn):
        """Run one operation; return (seconds, result) or (None, None)
        when it raised (counted as failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            self.detail.setdefault("failures", []).append(f"{type(e).__name__}: {e}"[:300])
            return None, None
        return time.perf_counter() - t0, out

    def trace_overhead(self, traced_s: list, ops: list) -> list:
        """Traced runs: run ``ops`` (zero-argument calls repeating the
        workload's traced operations, which took ``traced_s``) again with
        tracing off, and report the median traced time over the median
        untraced one. Returns the untraced results."""
        if not self.traced or not traced_s or not ops:
            return []
        self.traced = self.tr.enabled = False
        plain, results = [], []
        try:
            for fn in ops:
                t0 = time.perf_counter()
                results.append(fn())
                plain.append(time.perf_counter() - t0)
        finally:
            self.traced = self.tr.enabled = True
        self.layer["trace.op_slowdown"] = statistics.median(traced_s) / statistics.median(plain)
        self.detail["untraced_rerun_s"] = plain
        return results

    # ----------------------------------------------------------- checks
    def error(self, msg: str | None) -> None:
        if msg:
            self.errors.append(msg)

    def check_query(self, q: dict, got) -> None:
        """Reference results plus the no-tombstone property."""
        ref = self.ref
        if q["kind"] == "topk":
            self.error(refmod.check_topk_order(got, q["text"]))
            self.error(refmod.check_topk(ref, q["text"], got, K))
            ids = [d for _, d, _ in got]
        else:
            want = ref.bool_and(q["text"]) if q["kind"] == "bool_and" else ref.bool_or(q["text"])
            ids = [int(d) for d in got]
            self.error(refmod.check_set(want, ids, f"{q['kind']} {q['text']!r}"))
        dead = ref.deleted.intersection(ids)
        if dead:
            self.error(f"{q['kind']} {q['text']!r} returned tombstoned docs {sorted(dead)[:5]}")

    def check_index(self, rd, summary: dict | None) -> None:
        """Collection statistics and sampled dfs against the reference;
        topk properties (order, wand == dense) and boolean properties
        (AND within OR, AND no larger than the rarest term) on samples."""
        from yase_spark.tokenize import analyze_query

        ref = self.ref
        vocab = sorted(set().union(*(c.keys() for c in ref.tf.values())))
        rng = gen.rng_for(self.seed, "df-sample")
        sample = [vocab[i] for i in rng.choice(len(vocab), min(DF_SAMPLE, len(vocab)), replace=False)]
        sample.append("zzznotaterm")
        # one fetch job for everything checked below
        pool_terms = [t for q in self.pool for t in analyze_query(q["text"])]
        got = rd.fetch_terms(sample + pool_terms)
        df = {t: (tp.df if tp is not None else 0) for t, tp in got.items()}
        if summary is not None:
            if summary["n_docs"] != ref.n_docs:
                self.error(f"n_docs {summary['n_docs']}, reference {ref.n_docs}")
            if summary["total_tokens"] != ref.total_tokens:
                self.error(f"total_tokens {summary['total_tokens']}, reference {ref.total_tokens}")
        if rd.n_docs != ref.n_docs or not refmod.close(rd.avgdl, ref.avgdl):
            self.error(f"reader stats ({rd.n_docs}, {rd.avgdl}), reference ({ref.n_docs}, {ref.avgdl})")
        for t in sample:
            if df[t] != ref.df(t):
                self.error(f"df({t!r}) = {df[t]}, reference {ref.df(t)}")
        topks = [q for q in self.pool if q["kind"] == "topk"][:PROPERTY_SAMPLE]
        for q in topks:
            dense = rd.topk(q["text"], K, use_wand=False)
            wand = rd.topk(q["text"], K, use_wand=True)
            if dense != wand:
                self.error(f"topk {q['text']!r}: wand {wand[:3]} != dense {dense[:3]}")
        for q in (q for q in self.pool if q["kind"] != "topk"):
            a, o = rd.bool_and(q["text"]), rd.bool_or(q["text"])
            if not set(a.tolist()) <= set(o.tolist()):
                self.error(f"bool_and {q['text']!r} not within bool_or")
            terms = analyze_query(q["text"])
            min_df = min(df[t] for t in terms) if terms else 0
            if len(a) > min_df:
                self.error(f"bool_and {q['text']!r}: {len(a)} docs > min df {min_df}")

    # ---------------------------------------------------------- metrics
    def index_figures(self, root: str, summary: dict | None, input_bytes: int) -> float:
        """Bytes at rest per input byte; fills the catalog/postings/codec
        layer figures that come from the index on disk."""
        from yase_spark.catalog import Catalog

        total = dir_bytes(root)
        if not self.traced:
            return total / input_bytes
        cat = Catalog(root)
        for name in ("segments", "local_segments", "docs"):
            self.layer[f"catalog.{name}_bytes"] = float(dir_bytes(os.path.join(root, name)))
        self.layer["catalog.snapshots"] = float(sum(len(cat.snapshots(t)) for t in cat.tables()))
        if summary is not None:
            for phase in ("tokenize_encode_write", "groups_total", "docs_write", "doclen_stats"):
                self.layer[f"index.build.{phase}_s"] = float(summary["phases"].get(phase, 0.0))
            self.layer["postings.postings"] = float(summary["postings"])
            self.layer["postings.skew_ratio"] = float(summary["skew_ratio"])
            ck = [
                r for r in cat.read(self.spark, "checkpoints").collect()
                if r["run_id"] == summary["run_id"] and r["unit"].startswith("grp-")
            ]
            self.layer["postings.terms"] = float(sum(r["n_terms"] for r in ck))
            posts = sum(r["postings_out"] for r in ck)
            self.layer["codec.bytes_per_posting"] = sum(r["bytes_out"] for r in ck) / posts if posts else 0.0
        return total / input_bytes

    def result(self, e2e: dict) -> dict:
        correct = not self.errors
        if self.traced:
            metrics = self.layer_metrics()
        else:
            metrics = {}
            for m in self.spec["end_to_end"]:
                value, unit = e2e[m["name"]]
                if unit != m["unit"]:
                    raise ValueError(f"{m['name']}: unit {unit}, BENCHMARK.json says {m['unit']}")
                metrics[m["name"]] = {"value": float(value), "unit": unit}
        return {
            "correct": correct,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": metrics,
        }

    def layer_metrics(self) -> dict:
        tr = self.tr
        st = tr.self_times()
        for layer in ("session", "bench", "tokenize", "index", "codec", "catalog", "query"):
            self.layer[f"{layer}.self_s"] = st.get(layer, 0.0)
        self.layer["trace.spans"] = float(len(tr.spans))
        wall = sum(s.dur for s in tr.spans if s.parent is None and s.t1 is not None)
        self.layer["trace.bookkeeping_share"] = tr.bookkeeping_s / wall if wall else 0.0
        missing = [m["name"] for m in self.spec["per_layer"] if m["name"] not in self.layer]
        if missing:
            self.detail["unmeasured"] = missing
        return {
            m["name"]: {"value": float(self.layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in self.spec["per_layer"]
        }

    # ------------------------------------------------------ layer probe
    def query_layer_figures(self) -> None:
        tr = self.tr
        roots = [s for s in tr.spans if s.name in QUERY_SPANS and s.t1 is not None]
        for name, key in (("query.term_dfs", "query.term_dfs_ms"), ("query.block_meta", "query.block_meta_ms"),
                          ("query.fetch_terms", "query.fetch_terms_ms"), ("query.score", "query.score_ms")):
            durs = [s.dur * 1000 for s in tr.named(name)]
            self.layer[key] = median_or_none(durs) or 0.0
        if roots:
            self.layer["query.postings_per_query"] = statistics.median(s.attrs.get("postings", 0) for s in roots)
            jobs = [s.jobs or 0 for s in roots]
            self.layer["query.spark_jobs_per_query"] = statistics.mean(jobs)
            self.layer["query.cache_hit_ratio"] = sum(1 for j in jobs if j == 0) / len(jobs)
            self.layer["query.traced_queries"] = float(len(roots))
        an = [s.dur * 1e6 for s in tr.named("tokenize.analyze_query")]
        if an:
            self.layer["tokenize.analyze_query_us"] = statistics.median(an)

    def probe_layers(self, root: str, rows: list[dict], did_queries: bool, did_append: bool) -> None:
        """Traced runs only: measure the layers this workload's own
        operations do not reach, on the workload's own index, after the
        timed part is over."""
        import pyarrow as pa
        from yase_spark import codec
        from yase_spark.tokenize import analyze_query, tokenize_count_arrow

        tr = self.tr
        with tr.span("bench.probe"):
            sample = pa.array([r["content"] for r in rows[:KERNEL_SAMPLE]])
            rates = []
            for _ in range(3):
                with tr.span("tokenize.kernel"):
                    t0 = time.perf_counter()
                    tokenize_count_arrow(sample, ngrams=self.cfg.ngrams)
                    rates.append(len(sample) / (time.perf_counter() - t0))
            self.layer["tokenize.kernel_docs_per_s"] = statistics.median(rates)
            if not did_queries:
                for q in self.pool[:PROBE_QUERIES]:
                    self.check_query(q, self.run_query(None, q, f"probe-{q['qid']}", cold_root=root))
            rd = self.open_reader(root, cold=False)
            terms = list(dict.fromkeys(t for q in self.pool[:40] for t in analyze_query(q["text"])))
            rows_by_term = rd.fetch_term_rows(terms)
            enc_n = dec_n = 0
            enc_s = dec_s = 0.0
            runs = []  # (term, doc_ids, tfs, dls) per term, for the run encoder
            for t, rs in rows_by_term.items():
                for r in rs or []:
                    n = int(r["n"])
                    payload = r["payload"].as_py()
                    with tr.span("codec.decode_postings"):
                        t0 = time.perf_counter()
                        ids, tfs, dls = codec.decode_postings(payload, n)
                        dec_s += time.perf_counter() - t0
                    with tr.span("codec.encode_postings"):
                        t0 = time.perf_counter()
                        codec.encode_postings(ids, tfs, dls, block_size=self.cfg.block_size)
                        enc_s += time.perf_counter() - t0
                    enc_n += n
                    dec_n += n
                    runs.append((t, ids, tfs, dls))
            self.layer["codec.decode_postings_per_s"] = dec_n / dec_s if dec_s else 0.0
            self.layer["codec.encode_postings_per_s"] = enc_n / enc_s if enc_s else 0.0
            self._probe_run_encoder(runs)
            if not did_append:
                from yase_spark.index import IndexBuilder

                self.append_cycle(IndexBuilder(self.spark, root, self.cfg), root, cycle=0, probe=True)

    def _probe_run_encoder(self, runs: list) -> None:
        """The build's local-segment encoder (``postings.encode_runs_coded``,
        run inside the build's Arrow tasks) over the same postings, as one
        run sorted by (term, doc_id); checks that every term's payload
        decodes back to its postings."""
        import pyarrow as pa
        from yase_spark.codec import decode_postings
        from yase_spark.postings import encode_runs_coded

        if not runs:
            return
        sizes = np.array([r[1].size for r in runs])
        codes = np.repeat(np.arange(len(runs)), sizes)
        ids, tfs, dls = (np.concatenate([r[i] for r in runs]) for i in (1, 2, 3))
        rates = []
        for _ in range(3):
            with self.tr.span("postings.encode_runs"):
                t0 = time.perf_counter()
                batch = encode_runs_coded(codes, ids, tfs, dls, pa.array([r[0] for r in runs]), 0)
                rates.append(ids.size / (time.perf_counter() - t0))
        self.layer["postings.encode_runs_postings_per_s"] = statistics.median(rates)
        for (term, *want), payload, n in zip(runs, batch.column("payload").to_pylist(), sizes):
            got = decode_postings(payload, int(n))
            if not all(np.array_equal(g, w) for g, w in zip(got, want)):
                self.error(f"postings.encode_runs_coded: the payload of {term!r} does not decode to its postings")
                break

    # ----------------------------------------------------------- update
    def append_cycle(self, builder, root: str, cycle: int, probe: bool = False) -> dict:
        """Append a delta with a planted identifier, tombstone earlier
        docs, reopen the reader and run the fixed query set. Returns the
        step timings; results are checked here."""
        from yase_spark.catalog import Catalog

        tr = self.tr
        plant = f"benchPlant{cycle}x{self.seed}"
        rows = gen.documents(self.seed, DELTA_DOCS, prefix=f"u{cycle}", plant=plant)
        delta = self.stage(rows)
        n_before = self.ref.n_docs
        live = [d for d in range(1, n_before + 1) if d not in self.ref.deleted]
        rng = gen.rng_for(self.seed, f"delete-{cycle}")
        victims = sorted(int(d) for d in rng.choice(live, DELETE_DOCS, replace=False))
        queries = [{"qid": "plant", "kind": "bool_or", "text": plant.lower()}]
        queries += self.pool[:UPDATE_QUERIES]
        cat = Catalog(root)
        steps: dict = {"queries": []}

        def cycle_ops():
            with tr.span("index.append", jobs=True):
                t0 = time.perf_counter()
                info = builder.append(delta)
                steps["append_s"] = time.perf_counter() - t0
            rewritten = sum(cat.data_dir_sizes("segments").values())
            steps["rewritten_bytes"] = rewritten
            steps["appended"] = info.get("appended_docs", 0)
            with tr.span("index.delete", jobs=True):
                t0 = time.perf_counter()
                steps["tombstoned"] = builder.delete(doc_ids=victims)["tombstoned"]
                steps["delete_s"] = time.perf_counter() - t0
            rd = self.open_reader(root, cold=False)
            results = []
            for q in queries:
                t0 = time.perf_counter()
                results.append(self.run_query(rd, q, f"c{cycle}-{q['qid']}"))
                steps["queries"].append(time.perf_counter() - t0)
            return results

        if probe:
            # not an operation of the workload: neither timed nor counted
            with tr.span("bench.probe_update", qid=f"cycle-{cycle}"):
                results = cycle_ops()
        else:
            with tr.span("bench.op", qid=f"cycle-{cycle}"):
                dt, results = self.timed(cycle_ops)
            if dt is None:
                return steps
            steps["cycle_s"] = dt
        # the reference follows only acknowledged writes
        new_ids = self.ref.add_batch(rows)
        self.ref.delete(victims)
        steps["input_bytes"] = content_bytes(rows)
        self.layer["catalog.append_bytes_rewritten_per_input_byte"] = (
            steps["rewritten_bytes"] / steps["input_bytes"]
        )
        if steps["appended"] != len(rows):
            self.error(f"cycle {cycle}: appended {steps['appended']} of {len(rows)} docs")
        if steps["tombstoned"] != len(victims):
            self.error(f"cycle {cycle}: tombstoned {steps['tombstoned']} of {len(victims)} docs")
        planted = {int(d) for d in results[0]}
        if planted != set(new_ids):
            self.error(f"cycle {cycle}: planted query found {len(planted)} of {len(new_ids)} appended docs")
        for q, got in zip(queries, results):
            self.check_query(q, got)
        return steps


# =============================================================== workloads
def workload_build(b: Bench) -> dict:
    rows = b.start_session(lambda: gen.documents(b.seed, BUILD_DOCS))
    in_bytes = content_bytes(rows)
    df = b.stage(rows)
    # the first builds in a process also pay JVM code generation and
    # Python worker start-up (measured 15-20 s against 6-8 s once warm,
    # and far noisier). Untimed builds of the same corpus take it in
    # set-up, so the timed builds measure the steady state: after one
    # warm-up build the next was still ~1.3 s slower than those after it.
    with b.tr.span("bench.warmup"):
        for i in range(WARMUP_BUILDS):
            warm_root = os.path.join(b.work, f"index-warmup-{i}")
            b.build(df, warm_root)
            shutil.rmtree(warm_root)
    b.setup_done()

    lat, summaries, roots = [], [], []
    t_end = time.perf_counter() + b.seconds
    while time.perf_counter() < t_end:
        root = os.path.join(b.work, f"index-{len(roots)}")
        with b.tr.span("bench.op", qid=f"build-{len(roots)}"):
            dt, summary = b.timed(lambda: b.build(df, root))
        if roots:
            shutil.rmtree(roots[-1], ignore_errors=True)
        roots.append(root)
        if dt is not None:
            lat.append(dt)
            summaries.append(summary)
    plain_root = os.path.join(b.work, "index-untraced")
    b.trace_overhead(lat, [lambda: b.build(df, plain_root)])
    shutil.rmtree(plain_root, ignore_errors=True)

    with b.tr.span("bench.check"):
        b.ref.add_batch(rows)
        for s in summaries[:-1]:
            if (s["n_docs"], s["total_tokens"]) != (b.ref.n_docs, b.ref.total_tokens):
                b.error(f"build stats {s['n_docs']}/{s['total_tokens']} differ from the reference")
        last = summaries[-1] if summaries else None
        rd = b.open_reader(roots[-1], cold=True) if last else None
        if rd is not None:
            b.check_index(rd, last)
            for q in b.pool[:PROPERTY_SAMPLE]:
                b.check_query(q, _public(rd, q))
    ratio = b.index_figures(roots[-1], last, in_bytes) if last else 0.0
    if b.traced and last:
        b.probe_layers(roots[-1], rows, did_queries=False, did_append=False)
        b.query_layer_figures()
    med = median_or_none(lat) or 0.0
    b.detail.update(builds=len(lat), build_s=lat, build_docs_per_s=BUILD_DOCS / med if med else None,
                    input_bytes=in_bytes, phases=last["phases"] if last else None)
    return b.result({
        "setup_s": (b.setup_s, "s"),
        "op_latency_ms": (med * 1000, "ms"),
        "work_per_s": (len(lat) * BUILD_DOCS / sum(lat) if lat else 0.0, "1/s"),
        "index_bytes_per_input_byte": (ratio, "B/B"),
    })


def _public(rd, q: dict):
    if q["kind"] == "topk":
        return rd.topk(q["text"], K)
    if q["kind"] == "bool_and":
        return rd.bool_and(q["text"])
    return rd.bool_or(q["text"])


def _query_setup(b: Bench):
    rows = b.start_session(lambda: gen.documents(b.seed, QUERY_DOCS))
    df = b.stage(rows)
    root = os.path.join(b.work, "index")
    summary = b.build(df, root)
    return rows, root, summary


def _query_loop(b: Bench, op, round_size: int, stream: list[int]) -> tuple[list, list, dict]:
    """Closed loop, one client: the next query is sent when the last
    reply is in. Returns latencies, kinds and pool indices in stream
    order, and the first result per pool query."""
    lat, kinds, ran, first, repeat_mismatch = [], [], [], {}, 0
    i = 0
    t_end = time.perf_counter() + b.seconds
    while time.perf_counter() < t_end:
        for _ in range(round_size):
            q = b.pool[stream[i % len(stream)]]
            i += 1
            with b.tr.span("bench.op", qid=i):
                dt, out = b.timed(lambda: op(q, i))
            if dt is None:
                continue
            lat.append(dt)
            kinds.append(q["kind"])
            ran.append(q["qid"])
            prev = first.get(q["qid"])
            if prev is None:
                first[q["qid"]] = out
            elif not _same(prev, out):
                repeat_mismatch += 1
    if repeat_mismatch:
        b.error(f"{repeat_mismatch} repeated queries returned a different result")
    if b.traced:
        untraced = b.trace_overhead(lat, [lambda q=b.pool[qid]: op(q, None) for qid in ran])
        for qid, out in zip(ran, untraced):
            if not _same(first[qid], out):
                q = b.pool[qid]
                b.error(f"{q['kind']} {q['text']!r}: traced layer calls differ from the public call")
    return lat, kinds, first


def _same(a, b) -> bool:
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


def _query_metrics(b: Bench, lat: list, kinds: list, prefix: str) -> None:
    for kind in ("topk", "bool"):
        ms = [d * 1000 for d, k in zip(lat, kinds) if k.startswith(kind)]
        b.detail[f"{prefix}{kind}_samples"] = len(ms)
        b.detail[f"{prefix}{kind}_p50_ms"] = percentile(ms, 0.5)
        b.detail[f"{prefix}{kind}_p99_ms"] = percentile(ms, 0.99)
    b.detail["queries_per_s"] = len(lat) / sum(lat) if lat else None
    if len(lat) < 50:
        b.detail["op_ms"] = [round(d * 1000, 1) for d in lat]


def workload_query_warm(b: Bench) -> dict:
    from yase_spark.tokenize import analyze_query

    rows, root, summary = _query_setup(b)
    rd = b.open_reader(root, cold=True)
    terms = list(dict.fromkeys(t for q in b.pool for t in analyze_query(q["text"])))
    with b.tr.span("query.preload", jobs=True):
        rd.fetch_terms(terms)
    b.setup_done()

    def warm(q, i):
        return b.run_query(rd, q, i)

    stream = gen.query_stream(b.seed, b.pool, 1 << 16)
    # a traced query runs dictionary and block-meta jobs for each new term
    # set (~0.7 s): rounds of one keep the traced run near its time
    lat, kinds, first = _query_loop(b, warm, 1 if b.traced else WARM_ROUND, stream)
    with b.tr.span("bench.check"):
        b.ref.add_batch(rows)
        for qid, out in first.items():
            b.check_query(b.pool[qid], out)
        b.check_index(rd, summary)
    ratio = b.index_figures(root, summary, content_bytes(rows))
    if b.traced:
        b.probe_layers(root, rows, did_queries=True, did_append=False)
        b.query_layer_figures()
    _query_metrics(b, lat, kinds, "")
    return b.result({
        "setup_s": (b.setup_s, "s"),
        "op_latency_ms": ((median_or_none(lat) or 0.0) * 1000, "ms"),
        "work_per_s": (len(lat) / sum(lat) if lat else 0.0, "1/s"),
        "index_bytes_per_input_byte": (ratio, "B/B"),
    })


def workload_query_cold(b: Bench) -> dict:
    rows, root, summary = _query_setup(b)
    # the process's first reader open also pays one-off JVM and worker
    # start-up costs (measured ~4.2 s against ~3 s for later ones): set-up
    with b.tr.span("bench.warmup"):
        _public(b.open_reader(root, cold=True), {"kind": "topk", "text": "index"})
    b.setup_done()

    def cold(q, i):
        return b.run_query(None, q, i, cold_root=root)

    # a run completes only a few cold queries: rotate the kinds so every
    # run, whatever its seed, has the same mix
    stream = gen.query_stream(b.seed, b.pool, 256, rotation=COLD_ROTATION)
    lat, kinds, first = _query_loop(b, cold, 1, stream)
    with b.tr.span("bench.check"):
        b.ref.add_batch(rows)
        warm = b.open_reader(root, cold=False)
        for qid, out in first.items():
            q = b.pool[qid]
            b.check_query(q, out)
            if not _same(out, _public(warm, q)):
                b.error(f"{q['kind']} {q['text']!r}: cold result differs from warm")
        b.check_index(warm, summary)
    ratio = b.index_figures(root, summary, content_bytes(rows))
    if b.traced:
        b.probe_layers(root, rows, did_queries=True, did_append=False)
        b.query_layer_figures()
    _query_metrics(b, lat, kinds, "cold_")
    return b.result({
        "setup_s": (b.setup_s, "s"),
        "op_latency_ms": ((median_or_none(lat) or 0.0) * 1000, "ms"),
        "work_per_s": (len(lat) / sum(lat) if lat else 0.0, "1/s"),
        "index_bytes_per_input_byte": (ratio, "B/B"),
    })


def workload_update(b: Bench) -> dict:
    from yase_spark.index import IndexBuilder

    rows = b.start_session(lambda: gen.documents(b.seed, UPDATE_BASE_DOCS))
    df = b.stage(rows)
    root = os.path.join(b.work, "index")
    summary = b.build(df, root)
    builder = IndexBuilder(b.spark, root, b.cfg)
    b.ref.add_batch(rows)
    in_bytes = content_bytes(rows)
    b.setup_done()

    cycles = []
    ratio = None
    t_end = time.perf_counter() + b.seconds
    while time.perf_counter() < t_end:
        steps = b.append_cycle(builder, root, len(cycles))
        cycles.append(steps)
        if ratio is None and "cycle_s" in steps:
            # bytes at rest after the first cycle: a fixed point, however
            # many cycles the run completes
            in_bytes += steps["input_bytes"]
            ratio = dir_bytes(root) / in_bytes
    done = [c for c in cycles if "cycle_s" in c]
    b.trace_overhead([c["cycle_s"] for c in done],
                     [lambda: b.append_cycle(builder, root, len(cycles), probe=True)])
    with b.tr.span("bench.check"):
        b.check_index(b.open_reader(root, cold=False), None)
    b.index_figures(root, summary, in_bytes)
    if b.traced:
        b.probe_layers(root, rows, did_queries=True, did_append=True)
        b.query_layer_figures()
    qms = [d * 1000 for c in done for d in c["queries"]]
    b.detail.update(
        cycles=len(done),
        append_s=[c["append_s"] for c in done],
        delete_s=[c["delete_s"] for c in done],
        update_query_samples=len(qms),
        update_query_p50_ms=percentile(qms, 0.5),
    )
    lat = [c["cycle_s"] for c in done]
    written = sum(c["appended"] + c["tombstoned"] for c in done)
    return b.result({
        "setup_s": (b.setup_s, "s"),
        "op_latency_ms": ((median_or_none(lat) or 0.0) * 1000, "ms"),
        "work_per_s": (written / sum(lat) if lat else 0.0, "1/s"),
        "index_bytes_per_input_byte": (ratio or 0.0, "B/B"),
    })


WORKLOADS = {
    "build": workload_build,
    "query_warm": workload_query_warm,
    "query_cold": workload_query_cold,
    "update": workload_update,
}
