"""The benchmark's workloads and their correctness gates.

Both workloads run one client, closed loop, on a seeded
``generate_corpus_distributed`` corpus (Zipf head keywords,
identifiers, digit tokens and a 5,000-term rare tail).  The package
sees only the generated inputs.

- ``build``: the analyzer, builder and encoder do the work.  One cold
  ``build_index`` in a fresh process, then warm ``force=True`` builds
  into fresh directories, each followed by a fixed probe set of
  ``search()`` requests.
- ``maintain``: writes beside reads on an index built in set-up.
  A seeded query mix runs on the fresh index, then after each of
  ``reindex_doc`` (edit of an existing doc), ``reindex_doc`` (add of a
  new doc), tombstone ``delete_repo`` and ``compact()``, the engine is
  refreshed and the mix continues.
"""

from __future__ import annotations

import random
import shutil
import time
from dataclasses import dataclass, field

from harness import (
    mean,
    median,
    rel_bytes,
    snapshot,
    tree_cpu_s,
    written,
)
from tracing import LAYERS, REQUEST

N_FILES = 1000
N_REPOS = 10
AVG_TOKENS = 120
#: corpus generation runs this many times in set-up; ``setup_s`` takes
#: the median
CORPUS_REPEATS = 3
LIMIT = 10
#: a single warm build's wall and CPU swing by about a fifth between
#: runs (host load; JIT, GC and Python worker start-up timing), so a
#: run averages at least two
MIN_WARM_BUILDS = 2
#: tokens in the doc the maintain workload adds, about a corpus doc's
#: distinct terms, so it hashes into every bucket as an edit does
ADD_TOKENS = 60
#: reads on the fresh index before the first write, and after each write
FIRST_BURST = 8
BURST = 4
#: (term classes, mode, repo-scoped, offset).  A fixed template list
#: keeps the share of cheap requests (empty AND, dictionary miss, empty
#: page) the same for every seed, so the latency percentiles compare
#: across seeds; the seed only picks the terms and repos.
TEMPLATES = [
    (("head",), "and", False, 0),
    (("head", "mid"), "and", False, 0),
    (("head", "mid"), "or", False, 0),
    (("head", "head"), "and", True, 0),
    (("head", "mid", "mid"), "or", False, 0),
    (("head",), "or", False, 10),
    (("mid",), "and", False, 0),
    (("mid",), "or", True, 0),
    (("rare",), "and", False, 0),
    (("digit",), "or", False, 0),
    (("mid", "rare"), "or", False, 0),
    (("mid", "mid"), "and", False, 10),
    (("head", "digit"), "or", False, 0),
    (("head", "rare"), "and", False, 0),
    (("head", "head", "mid"), "and", False, 0),
    (("mid", "miss"), "and", False, 0),
    (("head", "miss"), "or", False, 0),
    (("rare", "rare"), "or", True, 0),
    (("head", "mid", "rare"), "or", False, 10),
    (("head",), "and", True, 0),
]
#: the build workload's probe set: indexes into TEMPLATES
PROBES = [0, 1, 2, 3, 7, 8, 9, 12, 14, 18]
REL_TOL = 1e-9
#: requests run once traced and once not to measure tracing overhead
OVERHEAD_PAIRS = 4


@dataclass(frozen=True)
class Request:
    query: str
    mode: str
    repo: str | None
    offset: int


@dataclass
class Stats:
    """What one run measured, before it is reduced to metrics."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    timings: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, list[float]] = field(default_factory=dict)
    scalars: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.timings.setdefault(key, []).append(value)

    def count(self, key: str, value: float) -> None:
        self.counts.setdefault(key, []).append(value)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def corpus_rows(path: str) -> list[tuple[str, str, str, str, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["repo", "path", "commit", "lang", "content"])
    return list(zip(*(t[c].to_pylist() for c in t.column_names)))


def term_classes(oracle) -> dict[str, list[str]]:
    by_df = sorted(oracle.postings, key=lambda t: (-oracle.df(t), t))
    words = [t for t in by_df if not t.isdigit()]
    return {
        "head": words[:20],
        "mid": words[20:200],
        "rare": sorted(t for t in words if oracle.df(t) <= 3),
        "digit": sorted(t for t in by_df if t.isdigit()),
    }


def query_mix(oracle, repos: list[str], seed: int) -> list[Request]:
    rng = random.Random(seed * 7919 + 17)
    classes = term_classes(oracle.idx)
    out = []
    for kinds, mode, scoped, offset in TEMPLATES:
        terms = [
            f"zq{rng.randrange(10**6)}miss" if k == "miss" else rng.choice(classes[k])
            for k in kinds
        ]
        repo = rng.choice(repos) if scoped else None
        out.append(Request(" ".join(terms), mode, repo, offset))
    return out


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


class Oracle:
    """``tests.oracle`` over the run's rows, with every request's full
    ranked answer memoized.  Built and queried outside timed sections."""

    def __init__(self, rows):
        from tests.oracle import build_oracle_index

        self.idx = build_oracle_index(rows)
        self._full: dict[Request, list[tuple[int, float, int]]] = {}

    def full(self, req: Request):
        from tests.oracle import oracle_search

        if req not in self._full:
            self._full[req] = oracle_search(
                self.idx, req.query, k=self.idx.n_docs + 1, mode=req.mode, repo=req.repo
            )
        return self._full[req]

    def identity(self, doc_id: int) -> tuple[str, str]:
        d = self.idx.docs[doc_id]
        return d[0], d[1]


def check_exact(oracle: Oracle, req: Request, res: dict) -> str | None:
    """Rank-identical: doc_id order, bm25 within REL_TOL, tf_sum (via
    ``relevance`` = tf_sum / max tf_sum over all matches), repo/path,
    and ``count`` equal to the oracle's match count."""
    if not res.get("result"):
        return f"{req}: error {res.get('error')}"
    full = oracle.full(req)
    if res["count"] != len(full):
        return f"{req}: count {res['count']} != oracle {len(full)}"
    max_tf = max((r[2] for r in full), default=0) or 1
    want = full[req.offset: req.offset + LIMIT]
    got = res["data"]
    if [d["doc_id"] for d in got] != [w[0] for w in want]:
        return f"{req}: doc ids {[d['doc_id'] for d in got]} != {[w[0] for w in want]}"
    for d, (doc_id, bm25, tf_sum) in zip(got, want):
        if not _close(d["bm25"], bm25):
            return f"{req}: doc {doc_id} bm25 {d['bm25']!r} != {bm25!r}"
        if not _close(d["relevance"], tf_sum / max_tf):
            return f"{req}: doc {doc_id} tf_sum differs"
        if (d["site"], d["uri"]) != oracle.identity(doc_id):
            return f"{req}: doc {doc_id} is {(d['site'], d['uri'])}"
    return None


def check_identity(oracle: Oracle, req: Request, res: dict) -> str | None:
    """For an index whose doc ids no longer follow the dense build order
    (maintenance keeps ids stable with gaps): compare by (repo, path)
    identity.  Scores at each rank must match, and each returned doc
    must be an oracle match with that score and tf_sum."""
    if not res.get("result"):
        return f"{req}: error {res.get('error')}"
    full = oracle.full(req)
    if res["count"] != len(full):
        return f"{req}: count {res['count']} != oracle {len(full)}"
    max_tf = max((r[2] for r in full), default=0) or 1
    want = full[req.offset: req.offset + LIMIT]
    got = res["data"]
    if len(got) != len(want):
        return f"{req}: {len(got)} rows != oracle {len(want)}"
    by_key = {oracle.identity(d): (bm, tf) for d, bm, tf in full}
    for d, w in zip(got, want):
        if not _close(d["bm25"], w[1]):
            return f"{req}: bm25 at rank differs: {d['bm25']!r} != {w[1]!r}"
        hit = by_key.get((d["site"], d["uri"]))
        if hit is None or not _close(hit[0], d["bm25"]):
            return f"{req}: {(d['site'], d['uri'])} is not an oracle match at that score"
        if not _close(d["relevance"], hit[1] / max_tf):
            return f"{req}: {(d['site'], d['uri'])} tf_sum differs"
    return None


def answer_key(res: dict) -> tuple:
    return (
        res.get("result"),
        res.get("count"),
        tuple((d["doc_id"], d["bm25"], d["relevance"], d["site"], d["uri"]) for d in res.get("data", [])),
    )


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, env, tracer, seed: int, seconds: float):
        self.env = env
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.st = Stats()
        self._rid = 0
        #: content bytes of the edited doc (maintain), for write amplification
        self.edit_bytes = 0

    # -- set-up ------------------------------------------------------------
    def start_session(self) -> None:
        t = time.perf_counter()
        self.spark = self.env.start()
        self.st.scalars["session.start_s"] = time.perf_counter() - t

    def make_corpus(self) -> None:
        from searchengine_spark.sources.corpus import generate_corpus_distributed

        path = None
        for i in range(CORPUS_REPEATS):
            if path is not None:
                shutil.rmtree(path)
            path = str(self.env.run_dir / f"corpus-{i}")
            t = time.perf_counter()
            generate_corpus_distributed(
                self.spark, N_FILES, n_repos=N_REPOS, avg_tokens=AVG_TOKENS,
                seed=self.seed % (1 << 28),
            ).write.parquet(path)
            self.st.add("corpus.generate", time.perf_counter() - t)
        self.corpus = path
        self.rows = corpus_rows(path)

    # -- timed operations --------------------------------------------------
    def build(self, out: str) -> dict:
        from searchengine_spark import IndexConfig
        from searchengine_spark.index.builder import BUILD_JOB_GROUP, build_index

        tracing = self.tracer is not None
        if tracing:
            jobs0 = self.env.jobs_in_group(BUILD_JOB_GROUP)
            sid = self.tracer.open("builder.build_index")
        c0 = tree_cpu_s()
        t = time.perf_counter()
        m = build_index(
            self.spark, self.spark.read.parquet(self.corpus), out, IndexConfig(),
            source=self.corpus, force=True, store_content=False,
        )
        wall = time.perf_counter() - t
        cpu = tree_cpu_s() - c0
        self.st.attempted += 1
        rec = {"wall": wall, "cpu": cpu, "metrics": m}
        if tracing:
            self.tracer.close(sid)
            jobs = self.env.jobs_in_group(BUILD_JOB_GROUP) - jobs0
            files, nbytes = written({}, snapshot(out))
            rec.update(
                spark_jobs=len(jobs), spark_tasks=self.env.tasks_of(jobs),
                files_written=files, bytes_written=nbytes,
            )
        return rec

    def read(self, eng, req: Request) -> tuple[dict, float]:
        tracing = self.tracer is not None and self.tracer.enabled
        rid = self._rid = self._rid + 1
        if tracing:
            group = f"benchmark-read-{rid}"
            self.env.set_group(group)
            sid = self.tracer.open(REQUEST, request=rid)
        t = time.perf_counter()
        try:
            res = eng.search(req.query, offset=req.offset, limit=LIMIT, repo=req.repo, mode=req.mode)
        except Exception as exc:  # noqa: BLE001 — a failed request is a failed op
            res = {"result": False, "error": repr(exc)}
        wall = time.perf_counter() - t
        self.st.attempted += 1
        if tracing:
            self.tracer.close(sid)
            self.env.clear_group()
            jobs = self.env.jobs_in_group(group)
            self.st.count("engine.spark_jobs", len(jobs))
            self.st.count("engine.spark_tasks", self.env.tasks_of(jobs))
            self.st.count("engine.results", len(res.get("data", [])))
            rows, nbytes = self.tracer.reads.get(rid, (0, 0))
            self.st.count("engine.rows_read", rows)
            self.st.count("engine.bytes_read", nbytes)
            for layer, secs in self.tracer.request_layers(rid).items():
                self.st.add(layer, secs)
        return res, wall

    def write(self, kind: str, index_dir: str, fn) -> dict:
        tracing = self.tracer is not None
        if tracing:
            group = f"benchmark-{kind}-{self.st.attempted}"
            before = snapshot(index_dir)
            self.env.set_group(group)
            sid = self.tracer.open(f"maintain.{kind}")
        c0 = tree_cpu_s()
        t = time.perf_counter()
        rec = fn()
        wall = time.perf_counter() - t
        cpu = tree_cpu_s() - c0
        self.st.attempted += 1
        self.st.add("write", wall)
        self.st.add("write.cpu", cpu)
        if tracing:
            self.tracer.close(sid)
            self.env.clear_group()
            jobs = self.env.jobs_in_group(group)
            nbytes = written(before, snapshot(index_dir))[1]
            self.st.count(f"maintain.{kind}.spark_jobs", len(jobs))
            self.st.count(f"maintain.{kind}.spark_tasks", self.env.tasks_of(jobs))
            self.st.count(f"maintain.{kind}.bytes_written", nbytes)
            self.st.count(f"maintain.{kind}.ms", wall * 1000.0)
        return rec

    def overhead_pairs(self, eng, reqs: list[Request]) -> None:
        """Tracing overhead: each request once traced and once not,
        alternating which goes first.  Untimed for the end-to-end
        metrics; only a traced run does this."""
        saved = self.st
        self.st = Stats()
        diffs = []
        for i, req in enumerate(reqs):
            walls = {}
            for on in ((False, True) if i % 2 == 0 else (True, False)):
                self.tracer.enabled = on
                walls[on] = self.read(eng, req)[1]
            diffs.append(walls[True] - walls[False])
        self.tracer.enabled = True
        self.st = saved
        self.st.scalars["trace.overhead_ms"] = median(diffs) * 1000.0


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def run_build(run: Run) -> dict:
    from searchengine_spark.query.engine import SearchEngine

    st = run.st
    run.start_session()
    run.make_corpus()
    oracle = Oracle(run.rows)
    repos = sorted({r[0] for r in run.rows})
    probes = [query_mix(oracle, repos, run.seed)[i] for i in PROBES]

    def build_and_probe(i: int, timed_reads: bool):
        out = str(run.env.run_dir / f"index-{i}")
        rec = run.build(out)
        t = time.perf_counter()
        eng = SearchEngine(run.spark, out)
        st.add("engine.open", time.perf_counter() - t)
        answers = []
        for req in probes:
            res, wall = run.read(eng, req)
            if timed_reads:
                st.add("read", wall)
            answers.append(res)
        return out, rec, eng, answers

    cold_dir, cold, eng, cold_answers = build_and_probe(0, timed_reads=False)
    st.scalars["cold_build_s"] = cold["wall"]
    st.scalars["setup_s"] = st.scalars["session.start_s"] + median(st.timings["corpus.generate"])
    for req, res in zip(probes, cold_answers):
        err = check_exact(oracle, req, res)
        if err:
            st.fail(f"cold build probe {err}")
    want = [answer_key(r) for r in cold_answers]
    shape = (cold["metrics"]["meta"]["n_docs"], cold["metrics"]["meta"]["n_terms"])

    warm = []
    last_dir = cold_dir
    t0 = time.perf_counter()
    while len(warm) < MIN_WARM_BUILDS or time.perf_counter() - t0 < run.seconds:
        out, rec, eng, answers = build_and_probe(len(warm) + 1, timed_reads=True)
        got_shape = (rec["metrics"]["meta"]["n_docs"], rec["metrics"]["meta"]["n_terms"])
        if got_shape != shape:
            st.fail(f"warm build {len(warm) + 1}: (n_docs, n_terms) {got_shape} != {shape}")
        for req, res, w in zip(probes, answers, want):
            if answer_key(res) != w:
                st.fail(f"warm build {len(warm) + 1}: probe {req} answered differently")
        warm.append(rec)
        shutil.rmtree(last_dir)
        last_dir = out
    if run.tracer is not None:
        run.overhead_pairs(eng, probes[:OVERHEAD_PAIRS])

    st.scalars["write_p50_ms"] = median([r["wall"] for r in warm]) * 1000.0
    st.scalars["write_cpu_s"] = mean([r["cpu"] for r in warm])
    content_bytes = sum(len(r[4].encode()) for r in run.rows)
    return finish(run, last_dir, content_bytes, warm)


# ---------------------------------------------------------------------------
# maintain
# ---------------------------------------------------------------------------

def _extra_tokens(rng: random.Random, oracle: Oracle, n: int) -> str:
    vocab = sorted(oracle.idx.postings)
    return " ".join(rng.choice(vocab) for _ in range(n))


def run_maintain(run: Run) -> dict:
    from searchengine_spark.index.maintain import compact, delete_repo, reindex_doc
    from searchengine_spark.query.engine import SearchEngine

    st = run.st
    run.start_session()
    run.make_corpus()
    index_dir = str(run.env.run_dir / "index")
    cold = run.build(index_dir)
    t = time.perf_counter()
    eng = SearchEngine(run.spark, index_dir)
    open_s = time.perf_counter() - t
    st.scalars["cold_build_s"] = cold["wall"]
    st.scalars["setup_s"] = (
        st.scalars["session.start_s"] + median(st.timings["corpus.generate"])
        + cold["wall"] + open_s
    )

    oracle = Oracle(run.rows)
    repos = sorted({r[0] for r in run.rows})
    mix = query_mix(oracle, repos, run.seed)
    rng = random.Random(run.seed * 104729 + 3)
    order = list(range(len(mix)))
    rng.shuffle(order)
    gone = rng.choice(repos)
    kept = [r for r in repos if r != gone]
    edit = rng.choice([r for r in run.rows if r[0] in kept])
    edit_content = f"{edit[4]} benchedit{run.seed}x {_extra_tokens(rng, oracle, 20)}"
    run.edit_bytes = len(edit_content.encode())
    added = (rng.choice(kept), f"bench/added_{run.seed}.py", "", "",
             f"benchadd{run.seed}x {_extra_tokens(rng, oracle, ADD_TOKENS)}")
    writes = [
        ("reindex", lambda: reindex_doc(run.spark, index_dir, edit[0], edit[1], edit_content)),
        ("add", lambda: reindex_doc(run.spark, index_dir, added[0], added[1], added[4])),
        ("delete", lambda: delete_repo(run.spark, index_dir, gone)),
        ("compact", lambda: compact(run.spark, index_dir)),
    ]

    pos = 0
    deleted: set[str] = set()
    pristine, final = [], []

    def burst(n: int, sink: list) -> None:
        nonlocal pos
        for _ in range(n):
            req = mix[order[pos % len(order)]]
            pos += 1
            res, wall = run.read(eng, req)
            st.add("read", wall)
            sink.append((req, res))
            bad = [d for d in res.get("data", []) if d["site"] in deleted]
            if not res.get("result") or bad:
                st.fail(f"after writes {sorted(deleted)}: {req} -> {res.get('error') or bad[:1]}")

    t0 = time.perf_counter()
    burst(FIRST_BURST, pristine)
    for i, (kind, fn) in enumerate(writes):
        rec = run.write(kind, index_dir, fn)
        if kind == "delete":
            deleted.add(rec["repo"])
        if kind == "reindex":
            st.count("maintain.reindex_buckets_rewritten", len(rec["buckets_rewritten"]))
        t = time.perf_counter()
        eng.refresh()
        st.add("engine.open", time.perf_counter() - t)
        burst(BURST, final if i == len(writes) - 1 else [])
    while time.perf_counter() - t0 < run.seconds:
        burst(1, final)

    for req, res in pristine:
        err = check_exact(oracle, req, res)
        if err:
            st.fail(f"fresh index: {err}")

    # the mutated corpus, answered by a fresh oracle: the compacted
    # index must match it by (repo, path) identity
    rows = [
        (r[0], r[1], r[2], r[3], edit_content if r[:2] == edit[:2] else r[4])
        for r in run.rows
        if r[0] not in deleted
    ] + [added]
    mutated = Oracle(rows)
    if eng.n_docs != mutated.idx.n_docs:
        st.fail(f"after compact n_docs {eng.n_docs} != {mutated.idx.n_docs}")
    checks = final + [
        (req, run.read(eng, req)[0])
        for req in (
            Request(f"benchedit{run.seed}x", "and", None, 0),
            Request(f"benchedit{run.seed}x", "or", edit[0], 0),
            Request(f"benchadd{run.seed}x", "and", None, 0),
            Request(f"benchadd{run.seed}x", "or", added[0], 0),
        )
    ]
    for req, res in checks:
        err = check_identity(mutated, req, res)
        if err:
            st.fail(f"after compact: {err}")
    for req, res in checks[-4:]:
        if res.get("count") != 1:
            st.fail(f"after compact: marker {req} count {res.get('count')}")

    st.scalars["write_p50_ms"] = median(st.timings["write"]) * 1000.0
    st.scalars["write_cpu_s"] = mean(st.timings["write.cpu"])
    content_bytes = sum(len(r[4].encode()) for r in rows)
    if run.tracer is not None:
        run.overhead_pairs(eng, [mix[i] for i in order[:OVERHEAD_PAIRS]])
    return finish(run, index_dir, content_bytes, [cold])


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

BUILD_STEPS = {
    "analyze_flat_write": ("stage1", "analyze_flat_write"),
    "doc_stats_write": ("stage1", "doc_stats_write"),
    "encode_write": ("stage2", "encode_write"),
    "term_stats_write": ("stage2", "term_stats_write"),
    "term_repo_stats_write": ("stage2", "term_repo_stats_write"),
    "lineage": ("stage2", "lineage_collects"),
}


def finish(run: Run, index_dir: str, content_bytes: int, builds: list[dict]) -> dict:
    """Reduce the run's samples to the end-to-end values (always) and
    the per-layer values (traced runs only)."""
    st = run.st
    reads = st.timings["read"]
    rel = rel_bytes(index_dir)
    e2e = {
        "setup_s": st.scalars["setup_s"],
        "peak_pss_mb": run.env.mem.peak_mb(),
        "cold_build_s": st.scalars["cold_build_s"],
        "index_bytes_per_input_byte": sum(rel.values()) / content_bytes,
        "write_p50_ms": st.scalars["write_p50_ms"],
        "write_cpu_s": st.scalars["write_cpu_s"],
        "read_p50_ms": median(reads) * 1000.0,
    }
    samples = {
        "reads": len(reads), "builds": len(builds), "writes": len(st.timings.get("write", [])),
        "max_procs": run.env.mem.max_procs,
    }
    if run.tracer is None:
        return {"e2e": e2e, "layers": None, "samples": samples}

    layers: dict[str, float] = {
        "session.start_s": st.scalars["session.start_s"],
        "corpus.generate_s": median(st.timings["corpus.generate"]),
    }
    steps = {k: median([b["metrics"][s]["steps_sec"][n] for b in builds]) for k, (s, n) in BUILD_STEPS.items()}
    wall = median([b["wall"] for b in builds])
    for k, v in steps.items():
        layers[f"builder.{k}_s"] = v
    layers["builder.unattributed_s"] = wall - sum(steps.values())
    for k in ("spark_jobs", "spark_tasks", "files_written", "bytes_written"):
        layers[f"builder.{k}"] = median([b[k] for b in builds])
    layers["builder.cpu_s"] = median([b["cpu"] for b in builds])
    layers["builder.core_util"] = layers["builder.cpu_s"] / (run.env.cores * wall)

    layers["index.postings_bytes"] = rel.get("postings", 0)
    layers["index.flat_postings_bytes"] = rel.get("stage1_postings", 0)
    layers["index.stats_bytes"] = rel.get("term_stats", 0) + rel.get("term_repo_stats", 0)
    layers["index.doc_stats_bytes"] = rel.get("doc_stats", 0)
    layers["index.files"] = len(snapshot(index_dir))

    n_req = len(st.timings[REQUEST])
    layers["engine.open_ms"] = median(st.timings["engine.open"]) * 1000.0
    layers["engine.request_ms"] = sum(st.timings[REQUEST]) / n_req * 1000.0
    for layer in LAYERS + ["engine.unattributed"]:
        layers[f"{layer}_ms"] = sum(st.timings.get(layer, [0.0])) / n_req * 1000.0
    layers["engine.attributed_share"] = 1.0 - layers["engine.unattributed_ms"] / layers["engine.request_ms"]
    c = st.counts
    layers["engine.spark_jobs_per_request"] = sum(c["engine.spark_jobs"]) / n_req
    layers["engine.spark_tasks_per_request"] = sum(c["engine.spark_tasks"]) / n_req
    layers["engine.rows_read_per_request"] = sum(c["engine.rows_read"]) / n_req
    layers["engine.bytes_read_per_request"] = sum(c["engine.bytes_read"]) / n_req
    layers["engine.rows_read_per_result"] = sum(c["engine.rows_read"]) / max(1, sum(c["engine.results"]))

    def per_op(key: str) -> float:
        return median(c[key]) if key in c else 0.0

    reindex_bytes = per_op("maintain.reindex.bytes_written")
    layers["maintain.reindex_buckets_rewritten"] = per_op("maintain.reindex_buckets_rewritten")
    layers["maintain.reindex_bytes_written"] = reindex_bytes
    layers["maintain.reindex_write_amp"] = reindex_bytes / run.edit_bytes if reindex_bytes else 0.0
    layers["maintain.reindex_spark_jobs"] = per_op("maintain.reindex.spark_jobs")
    layers["maintain.reindex_spark_tasks"] = per_op("maintain.reindex.spark_tasks")
    layers["maintain.add_doc_ms"] = per_op("maintain.add.ms")
    layers["maintain.delete_spark_jobs"] = per_op("maintain.delete.spark_jobs")
    layers["maintain.delete_bytes_written"] = per_op("maintain.delete.bytes_written")
    layers["maintain.compact_spark_jobs"] = per_op("maintain.compact.spark_jobs")
    layers["maintain.compact_bytes_rewritten"] = per_op("maintain.compact.bytes_written")
    layers["trace.overhead_ms"] = st.scalars["trace.overhead_ms"]
    layers["trace.spans"] = len(run.tracer.spans)
    return {"e2e": e2e, "layers": layers, "samples": samples}


WORKLOADS = {"build": run_build, "maintain": run_maintain}
