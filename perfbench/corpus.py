"""``corpus`` workload: the data-pipeline operators as batch jobs, one
job pass after another (closed loop).

Inputs (all from the seed):
  - a document corpus with planted chains of near-duplicates (each link
    a few token substitutions away from the previous one), shuffled;
  - PNG images of random pixels and block-constant grayscale JPEGs
    (which survive the lossy DCT path exactly), and FLAC clips, all
    built with the engine's own encoders.

One operation (one pass) runs the document-cleaning job
(``text_stats`` plus ``duplicate_clusters``) and the media job
(``decode_stats`` and ``phash_media`` over the images, ``audio_stats``
over the clips), collecting every result. This is the workload where
``operators.*`` and the pure-Python codecs do the work.

Checks: clusters must equal the connected components, labelled by their
smallest id, of the near-duplicate pairs that ``minhash_oracle_sql``
finds when DuckDB runs it over the same documents (computed once per
seed, untimed; the closure is taken in Python because
``duplicate_clusters_oracle_sql``'s recursive CTE is too slow here); the
token total must equal the generator's; every image's ``px_sum`` and
shape, and every clip's sample count and sum, must equal the generator's.
"""

from __future__ import annotations

import os

import time

import numpy as np
from pyspark.sql import functions as F

from aresdb_spark.operators.audio import audio_stats
from aresdb_spark.operators.dedup import (duplicate_clusters,
                                          minhash_lsh_candidates,
                                          minhash_near_duplicates,
                                          minhash_oracle_sql)
from aresdb_spark.operators.flac import decode_flac, encode_flac
from aresdb_spark.operators.jpeg import decode_jpeg, encode_jpeg
from aresdb_spark.operators.multimodal import (decode_png, decode_stats,
                                               encode_png, phash_media)
from aresdb_spark.operators.text import text_stats
from perfbench.harness import fingerprint, no_span

# docs, chains planted, PNG, JPEG, FLAC items
SIZES = {"full": (600, 60, 32, 16, 16), "tiny": (200, 20, 6, 4, 4)}
CHAIN_LEN = 3
EDITS_PER_LINK = 3
VOCAB = 400
PNG_SIDE = 24
FLAC_SAMPLES = 512


def min_id_components(ids, pairs) -> dict[int, int]:
    """Doc id -> smallest id of its connected component over the
    near-duplicate pairs (union-find). This is the transitive closure
    ``duplicate_clusters_oracle_sql`` computes with a recursive CTE,
    which is too slow to run per seed at this corpus size."""
    parent = {int(i): int(i) for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _jaccard in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


class Corpus:
    name = "corpus"
    warmup_ops = 1
    min_ops = 3
    period_ops = 1

    def __init__(self, seed: int, size: str, work):
        import duckdb
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        n_docs, n_chains, n_png, n_jpeg, n_flac = SIZES[size]
        rng = np.random.default_rng(seed)
        words = [f"w{rng.integers(10**6):06d}" for _ in range(VOCAB)]
        words += ["the", "a", "of", "and", "to", "in", "is", "der", "die",
                  "le", "la"]
        docs: list[list[str]] = []
        for _ in range(n_docs - n_chains * (CHAIN_LEN - 1)):
            docs.append(list(rng.choice(words, int(rng.integers(40, 80)))))
        for c in range(n_chains):
            cur = list(docs[c])
            for _ in range(CHAIN_LEN - 1):
                cur = list(cur)
                for pos in rng.choice(len(cur), EDITS_PER_LINK, replace=False):
                    cur[pos] = str(rng.choice(words))
                docs.append(cur)
        order = rng.permutation(len(docs))
        texts = [" ".join(docs[i]) for i in order]
        ids = np.arange(len(texts), dtype=np.int64) * 7 + 11
        self.n_docs = len(texts)
        self.n_tokens = sum(len(t.split()) for t in texts)

        con = duckdb.connect()
        con.register("documents", pd.DataFrame({"doc_id": ids,
                                                 "text": texts}))
        pairs = con.execute(
            minhash_oracle_sql("documents", "text", "doc_id")).fetchall()
        con.close()
        self.want_clusters = min_id_components(ids, pairs)

        media_ids, payloads = [], []
        self.want_images: dict[int, tuple] = {}
        for i in range(n_png):
            px = rng.integers(0, 256, (PNG_SIDE, PNG_SIDE, 3), dtype=np.uint8)
            mid = 1_000 + i
            media_ids.append(mid)
            payloads.append(encode_png(px))
            self.want_images[mid] = (PNG_SIDE, PNG_SIDE, 3, int(px.sum()))
        for i in range(n_jpeg):
            blocks = rng.integers(0, 256, (int(rng.integers(1, 4)),
                                           int(rng.integers(1, 4))),
                                  dtype=np.uint8)
            img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
            mid = 2_000 + i
            media_ids.append(mid)
            payloads.append(encode_jpeg(img))
            self.want_images[mid] = (img.shape[1], img.shape[0], 1,
                                     int(img.astype(np.int64).sum()))
        audio_ids, clips = [], []
        self.want_audio: dict[int, tuple] = {}
        for i in range(n_flac):
            s = np.cumsum(rng.integers(-200, 201, FLAC_SAMPLES)).clip(
                -32768, 32767)
            mid = 3_000 + i
            audio_ids.append(mid)
            clips.append(encode_flac(s, 16_000))
            self.want_audio[mid] = (FLAC_SAMPLES, int(s.sum()))

        d = work.sub("corpus-input")
        self.docs_path = os.path.join(d, "documents.parquet")
        self.images_path = os.path.join(d, "images.parquet")
        self.audio_path = os.path.join(d, "audio.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                       self.docs_path)
        pq.write_table(pa.table({"media_id": pa.array(media_ids, pa.int64()),
                                 "payload": pa.array(payloads, pa.binary())}),
                       self.images_path)
        pq.write_table(pa.table({"media_id": pa.array(audio_ids, pa.int64()),
                                 "payload": pa.array(clips, pa.binary())}),
                       self.audio_path)
        self.payloads = {"png": payloads[:n_png], "jpeg": payloads[n_png:],
                         "flac": clips}
        self.input_sizes = (self.n_docs, len(payloads), len(clips))
        self.input_fingerprint = fingerprint(texts[0], payloads[0], clips[0])
        self.span = no_span
        self.last_error = ""
        self.passes = 0
        self.cleaning_s = self.media_s = 0.0

    def reset(self) -> None:
        """Between set-up repetitions: the inputs are read-only."""

    def setup(self, spark, tracer=None) -> None:
        self.docs = spark.read.parquet(self.docs_path)
        self.images = spark.read.parquet(self.images_path)
        self.audio = spark.read.parquet(self.audio_path)
        if tracer is not None:
            self.span = tracer.span
        # first touch: resolve the three inputs
        for df in (self.docs, self.images, self.audio):
            df.schema

    def op(self, spark, timer) -> tuple[int, bool, None]:
        with timer:
            t0 = time.perf_counter()
            with self.span("text.stats"):
                st = text_stats(self.docs).agg(
                    F.count("*"), F.sum("n_tokens")).collect()[0]
            with self.span("dedup.clusters"):
                clusters = duplicate_clusters(self.docs).collect()
            t1 = time.perf_counter()
            with self.span("multimodal.decode_stats"):
                images = decode_stats(self.images).collect()
            with self.span("multimodal.phash"):
                hashes = phash_media(self.images).collect()
            with self.span("audio.stats"):
                audio = audio_stats(self.audio).collect()
            t2 = time.perf_counter()
        self.passes += 1
        self.cleaning_s += t1 - t0
        self.media_s += t2 - t1
        errors = []
        if (st[0], st[1]) != (self.n_docs, self.n_tokens):
            errors.append(f"text_stats rows/tokens {tuple(st)}")
        got = {r["doc_id"]: r["cluster_id"] for r in clusters}
        if got != self.want_clusters:
            diff = sum(1 for k in self.want_clusters
                       if got.get(k) != self.want_clusters[k])
            errors.append(f"duplicate_clusters: {diff} docs differ")
        got_i = {r["media_id"]: (r["width"], r["height"], r["channels"],
                                 r["px_sum"]) for r in images}
        if got_i != self.want_images:
            errors.append("decode_stats differs from generated pixels")
        if sorted(r["media_id"] for r in hashes) != sorted(self.want_images):
            errors.append("phash_media did not hash every image")
        got_a = {r["media_id"]: (r["n_samples"], r["amp_sum"]) for r in audio}
        if got_a != self.want_audio:
            errors.append("audio_stats differs from generated samples")
        if errors:
            self.last_error = "; ".join(errors)
        n_items = self.n_docs + len(self.want_images) + len(self.want_audio)
        return n_items, not errors, None

    def final_checks(self, spark) -> list[str]:
        return []

    def details(self) -> dict:
        """Throughput of each job on its own (warm-up pass included)."""
        if not self.passes:
            return {}
        n_media = len(self.want_images) + len(self.want_audio)
        return {
            "docs_per_s": (self.n_docs * self.passes / self.cleaning_s,
                           "docs/s"),
            "media_items_per_s": (n_media * self.passes / self.media_s,
                                  "items/s"),
        }

    def layer_values(self) -> dict:
        """Dedup candidate/verified counts (one extra, untimed run of the
        two stages the clustering job chains) and driver-side codec
        timings over this run's payloads."""
        cand = minhash_lsh_candidates(self.docs).count()
        verified = minhash_near_duplicates(self.docs).count()
        out = {"dedup.candidate_pairs": cand,
               "dedup.verified_pairs": verified,
               "dedup.verify_yield": verified / cand if cand else 0.0}
        for name, fn in (("png", decode_png), ("jpeg", decode_jpeg),
                         ("flac", decode_flac)):
            items = self.payloads[name]
            t0 = time.perf_counter()
            for _ in range(3):
                for p in items:
                    fn(p)
            out[f"codec.{name}_us_per_item"] = \
                (time.perf_counter() - t0) * 1e6 / (3 * len(items))
        return out
