"""``engine``: the paper's loop through ``api.MemoryEngine``, one closed-loop
client.

Phases, in order:

1. bulk load: ``add_memory_batch`` in fixed-size batches;
2. index build: ``build_search_index`` (IVF, automatic sizing);
3. mixed rounds: a small add that carries one injected near-duplicate,
   ``append_to_search_index`` for the memories it stored, one search and
   ``record_feedback`` on the hits;
4. read loop: searches for the run's seconds, at least ``min_searches``,
   in whole cycles of a fixed mix: exact scans and ANN probes at a few
   ``nprobe`` values, under ACL contexts and some topic ``FilterSpec``s.

Every input comes from the seed.  Each attempted operation gets one id;
an exception and a wrong answer of the same operation count once.  After
the window, the stored chunk embeddings are collected once and every answer
is checked against NumPy: the embedding of each stored memory, each
near-duplicate verdict, each exact top-20 (same ACL predicate, topic filter
and score threshold), the scores of every ANN hit, and the feedback
counters."""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np

from harness import DATA_DIR, gc_since, iqm, tail_mean, settle

USERS = [f"u{i}" for i in range(12)]
WORKSPACES = [f"w{i}" for i in range(4)]
ROLES = [f"r{i}" for i in range(3)]
TOPICS = ["work", "travel", "health", "code", "food", "music"]


class Engine:
    def __init__(self, cfg: dict, smoke: bool):
        import pyarrow.parquet as pq

        self.size = cfg["smoke_sizes"] if smoke else cfg["sizes"]
        sf_dir = os.path.join(DATA_DIR, "sf0.001" if smoke else "sf0.01")
        self.docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                                  columns=["doc_id", "text", "source"]).to_pylist()
        self.index_dir = os.path.join(os.environ["TMPDIR"], "engine_ivf")

    def prepare(self, spark) -> None:
        """Set-up a user pays before the first call: an empty engine."""
        from memory_opensource_spark.api import MemoryEngine

        MemoryEngine(spark).memories.count()

    # ---- seeded inputs -----------------------------------------------------------

    def kinds(self) -> list[tuple[int | None, bool]]:
        """The fixed cycle of search kinds, (nprobe or None for exact, topic
        filter or not): every seed runs the same share of each kind."""
        probes = self.size["ann_nprobe"]
        return [(None, False), (probes[0], False), (None, True), (probes[-1], True)]

    def inputs(self, seed: int) -> dict:
        s, rng = self.size, random.Random(seed)
        # the bulk load is the same documents in the same order for every
        # seed: the index build's k-means then sees the same points and runs
        # the same iterations, so seeds differ in what is measured, not in
        # how much work the build does
        docs = sorted(self.docs, key=lambda d: d["doc_id"])
        n_bulk = s["bulk_docs"]
        rest = docs[n_bulk:]
        rng.shuffle(rest)

        def item(doc: dict, mid: str, content: str | None = None) -> dict:
            owner = rng.choice(USERS)
            return {
                "memory_id": mid, "content": content or doc["text"], "user_id": owner,
                "user_read_access": sorted({owner, *rng.sample(USERS, rng.randint(0, 2))}),
                "workspace_read_access": rng.sample(WORKSPACES, rng.randint(0, 1)),
                "role_read_access": rng.sample(ROLES, rng.randint(0, 1)),
                "topics": [doc["source"], rng.choice(TOPICS)],
            }

        bulk = [item(d, f"m{d['doc_id']}") for d in docs[:n_bulk]]
        rounds = []
        for r in range(s["mixed_rounds"]):
            fresh = [item(d, f"m{d['doc_id']}")
                     for d in rest[r * s["mixed_batch"]:(r + 1) * s["mixed_batch"]]]
            # a near-duplicate: same tokens after lower-casing and dropping
            # empty tokens, so its embedding equals the original's
            src = rng.choice(bulk)
            dup = item({"source": src["topics"][0]}, f"dup{r}",
                       src["content"].upper().replace(" ", "  "))
            rounds.append(fresh + [dup])

        def query(i: int, nprobe: int | None, topic: str | None) -> dict:
            text = rng.choice(docs)["text"]
            if i % 2:
                words = text.split(" ")
                text = " ".join(rng.sample(words, min(len(words), rng.randint(4, 10))))
            ctx = {"user_id": rng.choice(USERS),
                   "workspace_ids": rng.sample(WORKSPACES, rng.randint(0, 2)),
                   "role_ids": rng.sample(ROLES, rng.randint(0, 1))}
            return {"text": text, "ctx": ctx, "topic": topic, "nprobe": nprobe}

        kinds = self.kinds()
        queries = []
        for i in range(2000):
            nprobe, filtered = kinds[i % len(kinds)]
            queries.append(query(i, nprobe, rng.choice(TOPICS) if filtered else None))
        mixed = [query(i, None, None) for i in range(len(rounds))]
        return {"bulk": bulk, "rounds": rounds, "mixed_queries": mixed, "queries": queries}

    # ---- the measured loop ---------------------------------------------------------

    def run(self, spark, seed: int, seconds: float, tracer=None, corrupt=False) -> dict:
        """The timed part: the four phases.  Returns the log the checks read."""
        from memory_opensource_spark.api import MemoryEngine

        inp = self.inputs(seed)
        eng = MemoryEngine(spark)
        log = {"adds": [], "searches": [], "feedback": []}
        stored: list[str] = []
        errors: list[tuple[str, str]] = []
        op = {"id": None, "n": 0}
        if tracer is not None:
            install_spans(tracer, spark)
            tracer.enabled = True

        def attempt(kind: str, fn, *args):
            """Run one operation under a fresh id; an exception is a failed
            operation, not the end of the run."""
            op["n"] += 1
            op["id"] = f"{kind}:{op['n']}"
            try:
                return fn(*args)
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                errors.append((op["id"], f"raised {e!r}"[:300]))
                if tracer is not None:
                    tracer.enabled = True
                return None

        def add(items, kind):
            with _op(tracer, kind):
                res = eng.add_memory_batch(items)
                log["adds"].append({"op": op["id"], "items": items, "before": len(stored),
                                    "reused": {r.memory_id: r.reused_from
                                               for r in res if r.reused}})
                new = [r.memory_id for r in res if not r.reused]
                stored.extend(new)
                if kind == "add" and new:
                    eng.append_to_search_index(new)

        def feedback(hits):
            with _op(tracer, "feedback"):
                eng.record_feedback(hits)
            log["feedback"].append(hits)

        def search(q, traced=True):
            from memory_opensource_spark.operators.predicate import AclContext, FilterSpec

            spec = FilterSpec(topics=[q["topic"]]) if q["topic"] else None
            op_tracer = tracer if traced else None
            if tracer is not None:
                tracer.enabled = traced
            with _op(op_tracer, "search") as rec:
                t0 = time.perf_counter()
                df = eng.search(q["text"], ctx=AclContext(**q["ctx"]), spec=spec,
                                top_k=self.size["top_k"], ann_nprobe=q["nprobe"])
                t1 = time.perf_counter()
                rows = [(r.memory_id, float(r.score)) for r in df.collect()]
                t2 = time.perf_counter()
            if tracer is not None:
                tracer.enabled = True
            if rec is not None:
                rec.update(build_ms=(t1 - t0) * 1000.0, exec_ms=(t2 - t1) * 1000.0,
                           results=len(rows), nprobe=q["nprobe"], stored=len(stored))
            log["searches"].append({"op": op["id"], "q": q, "before": len(stored),
                                    "rows": rows, "ms": (t2 - t0) * 1000.0})
            return rows

        gc0 = settle(spark)
        t_start = time.perf_counter()
        phase: dict[str, float] = {}
        b = self.size["bulk_batch"]
        bulk_ms = []
        for i in range(0, len(inp["bulk"]), b):
            t0 = time.perf_counter()
            attempt("bulk_add", add, inp["bulk"][i:i + b], "bulk_add")
            bulk_ms.append((time.perf_counter() - t0) * 1000.0)
        phase["bulk_s"] = time.perf_counter() - t_start
        t0 = time.perf_counter()
        with _op(tracer, "index_build"):
            attempt("index_build", eng.build_search_index, self.index_dir)
        phase["index_build_s"] = time.perf_counter() - t0
        add_ms = []
        for items, q in zip(inp["rounds"], inp["mixed_queries"]):
            t0 = time.perf_counter()
            attempt("add", add, items, "add")
            add_ms.append((time.perf_counter() - t0) * 1000.0)
            hits = attempt("search", search, q) or []
            attempt("feedback", feedback, [m for m, _ in hits])
        phase["script_s"] = time.perf_counter() - t_start

        # the read loop runs whole cycles of the search mix; a traced run
        # issues each query twice, untraced and traced in alternating order,
        # and the pairs price the tracing
        queries, cycle = iter(inp["queries"]), len(self.kinds())
        want = self.size["min_searches"] // (2 if tracer is not None else 1)
        n_q, overhead_pairs = 0, []
        t_read = time.perf_counter()
        while n_q < want or n_q % cycle or time.perf_counter() - t_read < seconds:
            q = next(queries)
            if tracer is not None:
                n = len(log["searches"])
                first = n_q % 2 == 1
                attempt("search", search, q, first)
                attempt("search", search, q, not first)
                if len(log["searches"]) == n + 2:
                    a, b2 = log["searches"][-2], log["searches"][-1]
                    plain, traced = (b2, a) if first else (a, b2)
                    overhead_pairs.append(traced["ms"] / plain["ms"] - 1.0)
            else:
                attempt("search", search, q)
            n_q += 1
        if tracer is not None:
            tracer.enabled = False
        gc_timed = gc_since(spark, gc0)
        if corrupt and log["searches"]:
            s0 = log["searches"][0]
            s0["rows"] = s0["rows"][1:] + [("m-corrupt", 0.5)]
        return {"eng": eng, "log": log, "stored": stored, "errors": errors,
                "attempted": op["n"], "phase": phase, "bulk_ms": bulk_ms, "add_ms": add_ms,
                "n_bulk": len(inp["bulk"]), "injected_dups": len(inp["rounds"]),
                "overhead_pairs": overhead_pairs, "gc": gc_timed}

    def check(self, st: dict, tracer=None) -> dict:
        """Untimed: verify every answer, then derive the metrics."""
        checks = Reference(st["eng"], st["log"], st["stored"]).run()
        failures = st["errors"] + checks["failures"]
        for name, why in failures:
            print(f"# FAIL {name}: {why}", file=sys.stderr)
        phase, lat = st["phase"], [s["ms"] for s in st["log"]["searches"]]
        metrics = {
            "script_s": phase["script_s"],
            "op_iqm_ms": iqm(lat),
            "op_tail_ms": tail_mean(lat),
        }
        detail = {
            **phase,
            "ingest_mem_per_s": st["n_bulk"] / phase["bulk_s"],
            "bulk_batch_ms": st["bulk_ms"],
            "add_p50_ms": statistics.median(st["add_ms"]) if st["add_ms"] else None,
            "search_ms": lat,
            "ann_recall_at_20": checks["recall"],
            "reuse_hits": checks["reuse_hits"],
            "injected_dups": st["injected_dups"],
            "gc": st["gc"],
            "failures": failures,
        }
        layers = {}
        if tracer is not None:
            layers["trace.overhead_pct"] = statistics.median(st["overhead_pairs"]) * 100.0
            layers.update(layer_metrics(tracer, st["eng"], self.index_dir, checks,
                                        len(st["stored"])))
        # one failure per operation id: a wrong answer of an operation that
        # also raised counts once; whole-store checks have ids of their own
        failed = min(st["attempted"], len({op for op, _ in failures}))
        return {"metrics": metrics, "layers": layers, "detail": detail,
                "attempted": st["attempted"], "failed": failed}


def _op(tracer, kind: str):
    """``tracer.operation`` when tracing, else a context that does nothing."""
    return tracer.operation(kind) if tracer is not None else nullcontext()


# ---- the NumPy reference -----------------------------------------------------------

THRESHOLD_SEARCH = 0.15
THRESHOLD_REUSE = 0.97


class Reference:
    """Recomputes every engine answer from the stored chunk embeddings."""

    def __init__(self, eng, log: dict, stored: list[str]):
        self.eng, self.log, self.stored = eng, log, stored
        self.failures: list[tuple[str, str]] = []

    def fail(self, op: str, why: str) -> None:
        """Record a wrong answer of operation ``op`` (one key per operation)."""
        self.failures.append((op, why))

    def run(self) -> dict:
        from memory_opensource_spark.api import hash_embed_py

        rows = self.eng.chunks.select("memory_id", "embedding").collect()
        emb = {r.memory_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
        items, batch_of = {}, {}
        for a in self.log["adds"]:
            for it in a["items"]:
                items[it["memory_id"]], batch_of[it["memory_id"]] = it, a["op"]
        if sorted(emb) != sorted(self.stored):
            self.fail("check:store", f"{len(emb)} chunks stored, expected {len(self.stored)}")
        order = [m for m in self.stored if m in emb]
        mat = np.stack([emb[m] for m in order]) if order else np.zeros((0, 1))
        for m in order:
            want = np.asarray(hash_embed_py(items[m]["content"]), dtype=np.float64)
            if not np.allclose(emb[m], want, atol=1e-12):
                self.fail(batch_of[m], f"{m}: stored embedding differs from the hash embedding")

        reuse_hits = 0
        for a in self.log["adds"]:
            prior = mat[:a["before"]]
            for it in a["items"]:
                v = np.asarray(hash_embed_py(it["content"]), dtype=np.float64)
                best = float((prior @ v).max()) if len(prior) else -1.0
                got = it["memory_id"] in a["reused"]
                reuse_hits += got
                if (best > THRESHOLD_REUSE) != got:
                    self.fail(a["op"],
                              f"{it['memory_id']}: reused={got}, best cosine {best:.6f}")
                if it["memory_id"].startswith("dup") and not got:
                    self.fail(a["op"], f"{it['memory_id']}: injected near-duplicate not reused")

        recalls = []
        for s in self.log["searches"]:
            q = s["q"]
            ids = order[:s["before"]]
            ref = self.top_k(q, ids, mat[:s["before"]], items, hash_embed_py)
            if q["nprobe"] is None:
                self.check_exact(s["op"], s["rows"], ref)
            else:
                self.check_hits(s["op"], s["rows"], ref["scores"])
                if ref["top"]:
                    got = {m for m, _ in s["rows"]}
                    recalls.append(len(got & {m for m, _ in ref["top"]}) / len(ref["top"]))

        self.check_feedback()
        return {"failures": self.failures, "reuse_hits": reuse_hits,
                "recall": statistics.mean(recalls) if recalls else 1.0}

    @staticmethod
    def visible(it: dict, ctx: dict, topic: str | None) -> bool:
        """The engine's ACL OR-block (user, read list, workspaces, roles) and
        the topic overlap filter."""
        ok = (it["user_id"] == ctx["user_id"] or ctx["user_id"] in it["user_read_access"]
              or bool(set(ctx["workspace_ids"]) & set(it["workspace_read_access"]))
              or bool(set(ctx["role_ids"]) & set(it["role_read_access"])))
        return ok and (topic is None or topic in it["topics"])

    def top_k(self, q, ids, mat, items, embed) -> dict:
        qv = np.asarray(embed(q["text"]), dtype=np.float64)
        qn = np.linalg.norm(qv)
        scores = {}
        if len(ids) and qn > 0:
            sims = (mat @ qv) / (np.linalg.norm(mat, axis=1) * qn)
            for m, sc in zip(ids, sims):
                if sc >= THRESHOLD_SEARCH and self.visible(items[m], q["ctx"], q["topic"]):
                    scores[m] = float(sc)
        top = sorted(scores.items(), key=lambda kv: (-round(kv[1], 9), kv[0]))[:20]
        return {"scores": scores, "top": top}

    def check_hits(self, what, rows, scores) -> None:
        if len(rows) > 20:
            self.fail(what, f"{len(rows)} rows > top_k")
        for m, sc in rows:
            if m not in scores:
                self.fail(what, f"{m} is not visible to the caller or below threshold")
                return
            if abs(scores[m] - sc) > 1e-9:
                self.fail(what, f"{m} score {sc} != {scores[m]}")
                return
        if len({m for m, _ in rows}) != len(rows):
            self.fail(what, "a memory is returned twice")

    def check_exact(self, what, rows, ref) -> None:
        self.check_hits(what, rows, ref["scores"])
        got = sorted(round(s, 9) for _, s in rows)
        want = sorted(round(s, 9) for _, s in ref["top"])
        if got != want:
            self.fail(what, f"top-{len(want)} scores differ from the exact reference")

    def check_feedback(self) -> None:
        want: dict[str, int] = {}
        for hits in self.log["feedback"]:
            for m in hits:
                want[m] = want.get(m, 0) + 1
        got = {r.memory_id: int(r.citation_hit_total) for r in
               self.eng.memories.select("memory_id", "citation_hit_total").collect()}
        for m, n in got.items():
            if n != want.get(m, 0):
                self.fail("check:feedback", f"{m}: citation_hit_total {n} != {want.get(m, 0)}")
                return


# ---- traced runs ---------------------------------------------------------------------

def install_spans(tracer, spark) -> None:

    from memory_opensource_spark import api
    from memory_opensource_spark.plans import ingest
    from memory_opensource_spark.sources import ann_index

    for meth in ["add_memory_batch", "build_search_index", "append_to_search_index",
                 "search", "record_feedback"]:
        tracer.wrap(api.MemoryEngine, meth, f"api.MemoryEngine.{meth}")
    tracer.wrap(api, "search_plan", "plans.search.search")
    tracer.wrap(api, "ingest_dedup_reuse", "operators.dedup.ingest_dedup_reuse")
    for fn in ["chunk_text", "hash_embed_arrow"]:
        tracer.wrap(ingest, fn, f"plans.ingest.{fn}")
    for fn in ["build_ivf_index", "train_centroids", "append_to_index"]:
        tracer.wrap(ann_index, fn, f"sources.ann_index.{fn}")
    frame = type(spark.range(0))  # the concrete DataFrame class of this session
    for meth in ["localCheckpoint", "collect", "count"]:
        tracer.wrap(frame, meth, f"DataFrame.{meth}")


def _plan_nodes(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.mean(xs) if xs else 0.0


def layer_metrics(tracer, eng, index_dir: str, checks: dict, index_rows: int) -> dict:
    t = tracer
    files = [os.path.join(d, f) for d, _, fs in os.walk(index_dir) for f in fs
             if f.endswith(".parquet")]
    searches = [o for o in t.ops if o["kind"] == "search"]
    ann = [o for o in searches if o.get("nprobe") is not None]
    exact = [o for o in searches if o.get("nprobe") is None]
    n_chunks = max(1, index_rows)
    embed = "plans.ingest.hash_embed_arrow"
    dedup = "operators.dedup.ingest_dedup_reuse"
    return {
        "ingest.chunk_embed_ms": t.total_ms("plans.ingest.chunk_text") + t.total_ms(embed)
        + t.total_ms("DataFrame.localCheckpoint", prev=embed),
        "ingest.dedup_ms": t.total_ms(dedup) + t.total_ms("DataFrame.collect", prev=dedup),
        "ingest.reuse_hits": checks["reuse_hits"],
        "engine.checkpoint_ms": t.total_ms("DataFrame.localCheckpoint"),
        "engine.checkpoints": t.count("DataFrame.localCheckpoint"),
        "engine.plan_nodes": _plan_nodes(eng.memories) + _plan_nodes(eng.chunks),
        "feedback.ms": t.total_ms("api.MemoryEngine.record_feedback")
        / max(1, t.count("api.MemoryEngine.record_feedback")),
        "index.train_ms": t.total_ms("sources.ann_index.train_centroids"),
        "index.write_ms": t.self_ms("sources.ann_index.build_ivf_index"),
        "index.files": len(files),
        "index.bytes_per_chunk": sum(os.path.getsize(f) for f in files) / n_chunks,
        "index.append_ms": t.total_ms("api.MemoryEngine.append_to_search_index")
        / max(1, t.count("api.MemoryEngine.append_to_search_index")),
        "search.build_ms": _mean(o["build_ms"] for o in searches),
        "search.exec_ms": _mean(o["exec_ms"] for o in searches),
        "search.jobs": _mean(o["jobs"] for o in searches),
        "search.stages": _mean(o["stages"] for o in searches),
        "search.tasks": _mean(o["tasks"] for o in searches),
        "search.rows_scanned_per_result": _mean(
            o["input_records"] / max(1, o["results"]) for o in searches),
        "search.ann_scan_fraction": _mean(o["input_records"] for o in ann)
        / max(1.0, _mean(o["input_records"] for o in exact)),
        "search.ann_recall_at_20": checks["recall"],
    }
