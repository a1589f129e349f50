"""corpus_curation: a seeded document corpus with planted exact and near
duplicates is ingested in batches through ``DedupIngestLoop`` (state
grows batch by batch), the accepted corpus gets one ``corpus_clean``
sweep, and its embeddings go through ``semantic_dedup``.

A curation job runs once per corpus, so the repetition is timed on the
first use of its plans (code generation and Python worker start
included), with no warm-up.

Every duplicate copy arrives after its original (later batch, or the
same batch with a higher id), so the expected outcome is fixed: every
exact copy is rejected and every original is kept, through ingest, the
clean sweep and the semantic dedup. Near-duplicate removal is
probabilistic (MinHash LSH, k-means cells) and is reported, not checked.
"""

from __future__ import annotations

import functools
import os
import time

import numpy as np

from perfbench import harness

N_ORIGINALS = 1_200
N_EXACT = 150  # exact copies of originals
N_NEAR = 150  # copies with ~2% of tokens replaced
N_BATCHES = 3
DIM = 32
NOMINAL_REP_S = 25.0  # ingest + clean + semantic dedup, first use, 4-core box

# the English marker words of llm.textstats' language id
_FUNCTION = ["the", "and", "of", "to", "is"]


def _vocab(rng) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, size=rng.integers(4, 9))) for _ in range(3_000)]


def generate(seed: int) -> list[dict]:
    """Documents (doc_id, text, batch, embedding) with the planted
    structure: which ids are exact or near copies, and of what."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    texts: list[str] = []
    vecs: list[np.ndarray] = []
    for _ in range(N_ORIGINALS):
        n = int(np.clip(rng.lognormal(4.3, 0.6), 40, 400))  # mixed lengths
        # a third of the words are English marker words, so the clean
        # sweep's language filter keeps every document
        words = [
            _FUNCTION[rng.integers(len(_FUNCTION))] if rng.random() < 0.35 else vocab[rng.integers(len(vocab))]
            for _ in range(n)
        ]
        texts.append(" ".join(words) + ".")
        vecs.append(rng.standard_normal(DIM))
    # copies point at originals; ids are assigned in arrival order below
    copies = [("exact", int(rng.integers(N_ORIGINALS))) for _ in range(N_EXACT)]
    copies += [("near", int(rng.integers(N_ORIGINALS))) for _ in range(N_NEAR)]
    # arrival: originals spread over the batches, each copy lands in its
    # original's batch or later
    orig_batch = rng.integers(0, N_BATCHES, N_ORIGINALS)
    docs = [{"text": texts[i], "batch": int(orig_batch[i]), "orig": i, "kind": "original"}
            for i in range(N_ORIGINALS)]
    for kind, src in copies:
        words = texts[src][:-1].split(" ")
        if kind == "near":
            for j in rng.choice(len(words), size=max(1, len(words) // 50), replace=False):
                words[j] = vocab[rng.integers(len(vocab))]
        docs.append({
            "text": " ".join(words) + ".",
            "batch": int(rng.integers(orig_batch[src], N_BATCHES)),
            "orig": src, "kind": kind,
        })
    # ids increase with arrival (batch), originals first within a batch
    docs.sort(key=lambda d: (d["batch"], d["kind"] != "original", d["orig"]))
    for doc_id, d in enumerate(docs):
        d["doc_id"] = doc_id
        v = vecs[d["orig"]]
        d["embedding"] = (v + (0.01 * rng.standard_normal(DIM) if d["kind"] != "original" else 0)).tolist()
    return docs


class Curation:
    name = "corpus_curation"

    units = {
        "dedup_ingest.batch_s": "s", "dedup_ingest.batch_growth": "ratio",
        "dedup_ingest.state_rows": "count", "dedup_ingest.accept_ratio": "ratio",
        "corpus_clean.self_s": "s", "dedup.candidate_pairs": "count",
        "dedup.pair_precision": "ratio", "similarity.self_s": "s",
    }

    def __init__(self, seed: int):
        self.seed = seed
        self.docs = generate(seed)
        self.src = os.path.join(harness.WORK, "curation")
        self._write()
        self.sizes = {"docs": len(self.docs), "originals": N_ORIGINALS, "exact_copies": N_EXACT,
                      "near_copies": N_NEAR, "batches": N_BATCHES, "embedding_dim": DIM}

    def _write(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in range(N_BATCHES):
            rows = [d for d in self.docs if d["batch"] == b]
            os.makedirs(os.path.join(self.src, f"batch{b}"))
            pq.write_table(pa.table({
                "doc_id": pa.array([d["doc_id"] for d in rows], pa.int64()),
                "text": [d["text"] for d in rows],
            }), os.path.join(self.src, f"batch{b}", "part-0.parquet"))
        pq.write_table(pa.table({
            "vec_id": pa.array([d["doc_id"] for d in self.docs], pa.int64()),
            "embedding": pa.array([d["embedding"] for d in self.docs], pa.list_(pa.float64())),
        }), os.path.join(self.src, "embeddings.parquet"))

    def first_action(self, spark) -> None:
        spark.read.parquet(os.path.join(self.src, "batch0")).count()

    # ----- one repetition ---------------------------------------------------

    def run_once(self, spark, span=None) -> dict:
        """Ingest every batch, clean the accepted corpus and dedup its
        embeddings. ``span`` wraps each layer call when the run is
        traced."""
        from contextlib import nullcontext

        from pyspark.sql import functions as F

        from vanus_spark.llm.pipeline import corpus_clean
        from vanus_spark.llm.similarity import semantic_dedup
        from vanus_spark.streaming.dedup_ingest import DedupIngestLoop

        span = span or (lambda name: nullcontext())
        out: dict = {"batches": []}
        loop = DedupIngestLoop(spark)
        accepted_ids: list[int] = []
        for b in range(N_BATCHES):
            batch = spark.read.parquet(os.path.join(self.src, f"batch{b}"))
            st = harness.stamp()
            with span(f"dedup_ingest.process_batch[{b}]"):
                acc = loop.process_batch(batch)
                accepted_ids += [r.doc_id for r in acc.select("doc_id").collect()]
            out["batches"].append(harness.since(st))
        out["accepted"] = set(accepted_ids)
        out["ingest_metrics"] = loop.metrics
        out["state_rows"] = loop.accepted_count
        with span("corpus_clean"):
            t0 = time.perf_counter()
            clean = corpus_clean(loop.corpus)
            out["cleaned"] = {r.doc_id for r in clean.select("doc_id").collect()}
            out["clean_s"] = time.perf_counter() - t0
        emb = spark.read.parquet(os.path.join(self.src, "embeddings.parquet")).join(
            loop.corpus.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
        with span("similarity.semantic_dedup"):
            t0 = time.perf_counter()
            kept = semantic_dedup(emb, threshold=0.95)
            out["sem_kept"] = {r.vec_id for r in kept.select("vec_id").collect()}
            out["semantic_s"] = time.perf_counter() - t0
        return out

    # ----- correctness (untimed) -------------------------------------------

    def verify(self, out: dict) -> tuple[int, int, list[str]]:
        """One operation per document: an exact copy must be rejected at
        ingest; an original must survive ingest, the clean sweep and
        the semantic dedup. Near copies are not checked."""
        failed, notes = 0, []
        checked = 0
        for d in self.docs:
            i = d["doc_id"]
            if d["kind"] == "exact":
                bad = i in out["accepted"]
            elif d["kind"] == "original":
                bad = not (i in out["accepted"] and i in out["cleaned"] and i in out["sem_kept"])
            else:
                continue
            checked += 1
            if bad:
                failed += 1
                if len(notes) < 5:
                    notes.append(f"doc {i} ({d['kind']}): accepted {i in out['accepted']}, "
                                 f"cleaned {i in out['cleaned']}, semantic {i in out['sem_kept']}")
        return checked, failed, notes

    def measure(self, spark, seconds: float, sampler) -> dict:
        reps = harness.reps_for(seconds, NOMINAL_REP_S)
        st = harness.stamp()
        outs = [self.run_once(spark) for _ in range(reps)]
        window = harness.since(st)
        attempted = failed = 0
        notes: list[str] = []
        for o in outs:
            a, f, n = self.verify(o)
            attempted, failed, notes = attempted + a, failed + f, notes + n
        items = len(self.docs) * reps
        return {
            "attempted": attempted, "failed": failed, "notes": notes,
            "items": items, "item_name": "input document", "window": window,
            "ops": [c for o in outs for c in o["batches"]], "op_name": "ingest batch",
            "named": {"curation_docs_per_s": (items / window["wall_s"], "1/s")},
            "detail": {"reps": reps, **{
                k: [o[k] for o in outs] for k in ("batches", "clean_s", "semantic_s", "state_rows")}},
        }

    # ----- traced run -------------------------------------------------------

    def candidate_pairs(self, spark) -> tuple[int, float]:
        """LSH candidate pairs over the whole input, and the share of
        them that are planted duplicates (copies of one original)."""
        from vanus_spark.llm.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(*[os.path.join(self.src, f"batch{b}") for b in range(N_BATCHES)])
        orig = {d["doc_id"]: d["orig"] for d in self.docs}
        pairs = [(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).select("id_a", "id_b").collect()]
        true = sum(1 for a, b in pairs if orig[a] == orig[b])
        return len(pairs), (true / len(pairs) if pairs else 1.0)

    def traced(self, spark, tracer) -> tuple[dict, dict]:
        """One traced repetition, on first use of its plans like the
        timed one."""
        with tracer.span(self.name) as root:
            out = self.run_once(spark, tracer.span)
        attempted, failed, notes = self.verify(out)
        n_pairs, precision = self.candidate_pairs(spark)
        batch_s = [c["wall_s"] for c in out["batches"]]
        return {
            "dedup_ingest.batch_s": sum(batch_s) / len(batch_s),
            "dedup_ingest.batch_growth": batch_s[-1] / batch_s[0],
            "dedup_ingest.state_rows": out["state_rows"],
            "dedup_ingest.accept_ratio": out["state_rows"] / len(self.docs),
            "dedup.candidate_pairs": n_pairs,
            "dedup.pair_precision": precision,
        }, {
            "root": root, "ops": N_BATCHES,
            "attempted": attempted, "failed": failed, "notes": notes,
            "ingest_metrics": out["ingest_metrics"],
            "after_attribution": functools.partial(self._span_selves, root),
        }

    @staticmethod
    def _span_selves(root: dict, spans: list[dict]) -> dict:
        """Self time of the clean sweep and the semantic dedup spans."""
        tree = harness.subtree(spans, root)
        return {
            "corpus_clean.self_s": sum(s["self_s"] for s in tree if s["name"] == "corpus_clean"),
            "similarity.self_s": sum(s["self_s"] for s in tree if s["name"].startswith("similarity.")),
        }
