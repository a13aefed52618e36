"""corpus_curation: one batch curation pipeline per pass over a generated
corpus above ``jaccard_pairs_auto``'s exact gate, so the banded-MinHash
path runs.

A pass calls the operators directly, each materialized before the next:
``exact_dedup`` -> ``jaccard_pairs_auto`` -> ``collapse_near_dups`` ->
``ivf_topk`` for a batch of query vectors (fetched as pandas). No query
text is ever repeated and no registry memo is involved.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import gen
from perfbench.common import stage_tables, staging_metrics

DB = "corpus"
#: recall floors; below them the pass's op counts as failed
PLANTED_RECALL_FLOOR = 0.95
TOPK_RECALL_FLOOR = 0.9
#: warm-up pass: a corpus slice on the same (LSH) path
WARM_DOCS = 200
STAGES = ("exact_dedup", "pair_gen_verify", "components", "topk")


def _materialize(df):
    return df.localCheckpoint()


class CorpusCuration:
    name = "corpus_curation"

    def __init__(self, run, seed: int) -> None:
        self.run = run
        c = gen.corpus(seed)
        self.docs, self.emb = c["docs"], c["emb"]
        self.query_ids = c["query_ids"]
        self.planted_pairs = c["planted_pairs"]
        self.planted_nb = c["planted_neighbours"]
        self.exact_keep = c["exact_keep"]
        self.exact_topk = gen.exact_topk(self.emb, self.query_ids, gen.TOPK)
        self.texts = dict(zip(self.docs["doc_id"].tolist(), self.docs["text"]))
        self.upload: dict = {}
        self.passes: list[dict] = []
        self.candidates: list[int] = []
        self.props = dict(c["props"], inputs_sha256=gen.digest(self.docs, self.emb), loop="batch passes")

    # -- set-up ---------------------------------------------------------------
    def stage(self, spark, warehouse: str) -> dict:
        state = stage_tables(spark, warehouse, DB, {
            "documents": (self.docs, {"time_value": 0}),
            "embeddings": (self.emb, {"time_value": 0}),
        })
        self.upload = state["upload"]
        return dict(state, spark=spark, dbdir=os.path.join(warehouse, DB))

    def warm(self, state: dict) -> None:
        self._pass(state, limit=WARM_DOCS)

    # -- one pass -------------------------------------------------------------
    def _pass(self, state: dict, limit: int | None = None, segment: str = "warm", jobs=None) -> dict:
        import pandas_td_spark.sources.io as sio
        from pandas_td_spark.operators import cluster, dedup, similarity

        spark, dbdir = state["spark"], state["dbdir"]
        tracer = self.run.tracer if jobs is not None else None
        n = len(self.passes)
        rec = {"segment": segment, "lat": {}, "errors": [], "op": f"{segment}-{n}",
               "start": time.perf_counter()}

        def stage(name, fn):
            op = f"{rec['op']}-{name}"
            t0 = time.perf_counter()
            if tracer is None:
                out = fn()
            else:
                with tracer.span(f"operators.{name}", op=op), jobs.group(op):
                    out = fn()
            rec["lat"][name] = time.perf_counter() - t0
            return out

        docs = sio.read_table(spark, dbdir, "documents", columns=["doc_id", "text"])
        if limit is not None:
            docs = docs.where(f"doc_id <= {limit * 3}")
        exact = stage("exact_dedup", lambda: _materialize(dedup.exact_dedup(docs)))
        # the warm-up slice sits below the exact gate; lower the gate so
        # it runs the same banded path as the measured passes
        gate = {"exact_max_docs": 0} if limit is not None else {}
        pairs = stage("pair_gen_verify", lambda: _materialize(
            dedup.jaccard_pairs_auto(exact, threshold=gen.CORPUS_THRESHOLD, **gate)))
        keep = stage("components", lambda: cluster.collapse_near_dups(exact, pairs)
                     .where("keep").select("doc_id").toPandas())
        emb = sio.read_table(spark, dbdir, "embeddings", columns=["vec_id", "embedding"])
        qids = self.query_ids
        topk = stage("topk", lambda: similarity.ivf_topk(emb, qids, k=gen.TOPK, dim=gen.EMB_DIM).toPandas())
        if limit is None:
            rec["exact_ids"] = set(exact.select("doc_id").toPandas()["doc_id"].tolist())
            rec["pairs"] = [tuple(map(int, r)) for r in pairs.select("id_a", "id_b").toPandas().itertuples(index=False)]
            rec["keep"] = set(keep["doc_id"].tolist())
            rec["topk"] = topk
        spark.catalog.clearCache()
        return rec

    def loop(self, state: dict, seconds: float, segment: str, jobs=None) -> dict:
        """Whole passes while another one still fits in ``seconds`` (at
        least one)."""
        self.candidates.clear()
        start = time.perf_counter()
        mine = []
        while not mine or (time.perf_counter() - start) * (len(mine) + 1) / len(mine) <= seconds:
            rec = self._pass(state, segment=segment, jobs=jobs)
            self.passes.append(rec)
            mine.append(rec)
        # the pipeline's time: its operator calls, not the collection of
        # their outputs for the checks
        return {
            "start": start,
            "wall": sum(v for r in mine for v in r["lat"].values()),
            "lat": [v for r in mine for v in r["lat"].values()],
            "by_key": {(k, s): v for k, r in enumerate(mine) for s, v in r["lat"].items()},
            "docs": len(self.docs) * len(mine),
        }

    # -- correctness ----------------------------------------------------------
    def _verdicts(self, rec: dict) -> dict:
        """Per-stage failure reason (None when the stage's output holds)."""
        t = gen.CORPUS_THRESHOLD
        out = {}
        out["exact_dedup"] = None if rec["exact_ids"] == self.exact_keep else "exact dedup kept the wrong ids"
        pairs = set(rec["pairs"])
        sh = {i: gen.shingles(self.texts[i]) for p in pairs for i in p}
        low = [p for p in pairs if gen.jaccard(sh[p[0]], sh[p[1]]) < t]
        bad_ids = [p for p in pairs if p[0] not in rec["exact_ids"] or p[1] not in rec["exact_ids"]]
        rec["planted_recall"] = len(pairs & self.planted_pairs) / len(self.planted_pairs)
        out["pair_gen_verify"] = (
            f"{len(low)} pairs below the threshold" if low
            else "pair outside the deduplicated corpus" if bad_ids
            else f"planted recall {rec['planted_recall']:.3f}" if rec["planted_recall"] < PLANTED_RECALL_FLOOR
            else None
        )
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want_keep = {i for i in rec["exact_ids"] if find(i) == i}
        out["components"] = None if rec["keep"] == want_keep else "collapse kept the wrong ids"
        got = {q: list(g.sort_values("rnk")["n_id"]) for q, g in rec["topk"].groupby("q_id")}
        hits = sum(len(set(got.get(q, [])) & set(ids)) for q, ids in self.exact_topk.items())
        rec["topk_recall"] = hits / sum(len(v) for v in self.exact_topk.values())
        nb = sum(len(set(got.get(q, [])) & ids) for q, ids in self.planted_nb.items())
        rec["neighbour_recall"] = nb / sum(len(v) for v in self.planted_nb.values())
        out["topk"] = (
            f"top-k recall {rec['topk_recall']:.3f}" if rec["topk_recall"] < TOPK_RECALL_FLOOR else None
        )
        return out

    def check(self, state: dict) -> dict:
        failures = []
        for rec in self.passes:
            for stage, why in self._verdicts(rec).items():
                if why:
                    failures.append(f"{rec['op']} {stage}: {why}")
        first = self.passes[0]
        return {
            "attempted": len(self.passes) * len(STAGES),
            "failed": len(failures),
            "passes": len(self.passes),
            "verified_pairs": len(first["pairs"]),
            "planted_recall": first["planted_recall"],
            "topk_recall": first["topk_recall"],
            "neighbour_recall": first["neighbour_recall"],
            "stage_s": {s: statistics.median(r["lat"][s] for r in self.passes) for s in STAGES},
            "failures": failures[:5],
        }

    # -- reported numbers -----------------------------------------------------
    def end_to_end(self, seg: dict) -> dict:
        """``docs_per_s``: corpus documents per second through whole
        passes; the upload metrics come from staging the corpus."""
        return {"docs_per_s": seg["docs"] / seg["wall"], **staging_metrics(self.upload)}

    def op_kinds(self) -> dict:
        return {}

    def counted(self, rec: dict) -> bool:
        return rec["segment"] == "traced"

    def layer_counts(self, job_counts: dict) -> tuple[dict, list[str]]:
        """Operator times, pair counts and recalls of the traced passes;
        a flag when a count differs between passes over the same corpus."""
        tr = self.run.tracer
        traced = [r for r in self.passes if self.counted(r)]
        since = traced[0]["start"]
        med = statistics.median
        verified = [len(r["pairs"]) for r in traced]
        flags = []
        if len(set(self.candidates)) > 1:
            flags.append(f"candidate pairs differ between passes: {self.candidates}")
        if len(set(verified)) > 1:
            flags.append(f"verified pairs differ between passes: {verified}")
        ops = [f"{r['op']}-{s}" for r in traced for s in STAGES]
        counts = [job_counts[op] for op in ops if op in job_counts]
        by_stage = {s: [job_counts.get(f"{r['op']}-{s}") for r in traced] for s in STAGES}
        flags += [f"{s} job/task counts differ between passes: {c}"
                  for s, c in by_stage.items() if len(set(c)) > 1]
        return {
            "engine.jobs_per_op": med(j for j, _ in counts),
            "engine.tasks_per_op": med(t for _, t in counts),
            "operators.exact_dedup_s": med(r["lat"]["exact_dedup"] for r in traced),
            "operators.pair_gen_s": med(tr.durations("operators.pair_gen", since)),
            "operators.verify_s": med(tr.durations("operators.verify", since)),
            "operators.components_s": med(r["lat"]["components"] for r in traced),
            "operators.topk_s": med(r["lat"]["topk"] for r in traced),
            "operators.candidate_pairs": self.candidates[-1],
            "operators.verified_pairs": verified[0],
            "operators.pair_yield": verified[0] / self.candidates[-1],
            "operators.planted_recall": traced[0]["planted_recall"],
            "operators.topk_recall": traced[0]["topk_recall"],
        }, flags

    def instrument(self, tracer) -> None:
        """Split ``jaccard_pairs_auto`` into candidate generation and
        verification: both inner calls are spanned and materialized."""
        from pandas_td_spark.operators import dedup

        def count_candidates(df):
            df = df.localCheckpoint()
            self.candidates.append(df.count())
            return df

        tracer.wrap(dedup, "lsh_candidate_pairs", "operators.pair_gen", after=count_candidates)
        tracer.wrap(dedup, "verify_jaccard_on_pairs", "operators.verify", after=_materialize)
