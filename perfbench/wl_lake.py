"""``lake``: each landing is maintained incrementally and curated in batch.

A landing is one corpus shard (text documents with a quality label,
plus PNG thumbnails) and four CDC event files. The unit op:

1. ingest: drain the CDC stream into a merge-on-read snapshot table
   (``cdc_stream_into_snapshots``, ``compact_every=4``, ``vacuum_keep``;
   four files = four micro-batches = exactly one compaction per op),
   drain the document stream into the SimHash near-dup index
   (``simhash_stream_into_state``, checkpointed), then a point lookup
   through ``cdc_state_from_snapshots``;
2. curate: ``curation_pipeline`` (quality filter, exact substring cut,
   exact dedup) -> ``minhash_lsh_pairs`` over the survivors' text ->
   ``connected_components`` keep-one -> ``png_ahash`` ->
   ``hamming_band_pairs``, every result written as parquet.

Part 1 carries the fixed per-batch streaming tax and the compaction;
part 2 is executor- and Python-worker-heavy (``mapInPandas`` decode,
band-join shuffles, checkpoints). Part 1 uses the dedup layer
incrementally where part 2 uses it in batch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from core import tree_size

# one landing
CDC_FILES = 4
CDC_ROWS = 2000  # per file
N_USERS = 20000
N_DOCS = 240
N_IMAGES = 120
DUP_SHARE = 0.2  # of documents and of images: planted copies
# engine parameters
COMPACT_EVERY = 4
VACUUM_KEEP = 2
SIMHASH_MAX_HAMMING = 3
KEEP_PCT = 70
MIN_SPAN = 12  # tokens: the exact-substring cut's minimum span
IMG_BITS, IMG_MAX_HAMMING, IMG_BANDS = 36, 4, 6
# checks
LOOKUP_KEYS = 8
RECALL_FLOOR = 0.8

CDC_SCHEMA = "user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING, value DOUBLE"
DOC_SCHEMA = "doc_id LONG, text STRING"
CDC_TYPES = {
    # microsecond timestamps: pandas' nanosecond default fails the
    # TIMESTAMP read with PARQUET_COLUMN_DATA_TYPE_MISMATCH
    "user_id": pa.int64(), "ts": pa.timestamp("us"), "event_id": pa.int64(),
    "event_type": pa.string(), "value": pa.float64(),
}


def popcount(x: int) -> int:
    return bin(x).count("1")


class Lake:
    name = "lake"
    cycle = 1  # one landing per op holds one whole compaction cycle

    def __init__(self, spark, work: str, seed: int, tracer):
        from isilon_hadoop_tools_spark.plans.state import ParquetState

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        for d in ("cdc_src", "doc_src", "img_src", "out"):
            os.makedirs(self._p(d))
        self.neardup = ParquetState(spark, self._p("neardup_state"))
        self.landing = 0
        self.cdc_batches = 0
        self.fold: dict[int, tuple] = {}
        self.doc_ids: list[int] = []
        self.truth: dict[int, dict] = {}
        self.input_bytes = 0
        self.batches_seen = 0

    def _p(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def describe(self) -> str:
        return (
            f"landings of {CDC_FILES}x{CDC_ROWS} CDC rows over {N_USERS} keys + {N_DOCS} documents"
            f" + {N_IMAGES} 24x24 PNGs ({DUP_SHARE:.0%} planted copies); "
            f"compact_every={COMPACT_EVERY}, vacuum_keep={VACUUM_KEEP}, keep {KEEP_PCT}%"
        )

    # ------------------------------------------------------------ inputs

    def generate(self) -> None:
        """Landings are generated as they land, just before their op
        (only the warmup's lands inside set-up)."""

    def _land(self, cdc_files: int = CDC_FILES) -> int:
        """Write landing ``self.landing``'s files; returns its number."""
        n = self.landing
        self.landing += 1
        last_rows: list[tuple] = []
        for _ in range(cdc_files):
            b = self.cdc_batches
            self.cdc_batches += 1
            last_rows = gen.cdc_batch(self.seed, b, CDC_ROWS, N_USERS)
            cols = {k: [r[x] for r in last_rows] for x, k in enumerate(CDC_TYPES)}
            self.input_bytes += gen.write_parquet(self._p("cdc_src", f"b{b:05d}.parquet"), cols, CDC_TYPES)
            gen.fold_cdc(self.fold, last_rows)
        docs = gen.corpus_shard(self.seed, n, N_DOCS, DUP_SHARE)
        images = gen.image_shard(self.seed, n, N_IMAGES, DUP_SHARE)
        self.input_bytes += gen.write_parquet(
            self._p("doc_src", f"s{n:03d}.parquet"),
            {
                "doc_id": [d[0] for d in docs["docs"]],
                "text": [d[1] for d in docs["docs"]],
                "label": [d[2] for d in docs["docs"]],
            },
            {"doc_id": pa.int64(), "text": pa.string(), "label": pa.bool_()},
        )
        self.input_bytes += gen.write_parquet(
            self._p("img_src", f"s{n:03d}.parquet"),
            {"img_id": [im[0] for im in images["images"]], "payload": [im[1] for im in images["images"]]},
            {"img_id": pa.int64(), "payload": pa.binary()},
        )
        self.doc_ids.extend(d[0] for d in docs["docs"])
        r = gen.rng(self.seed, f"lookup{n}")
        self.truth[n] = {
            "keys": sorted({row[0] for row in r.sample(last_rows, LOOKUP_KEYS)}),
            "exact_groups": docs["exact_groups"],
            "near_pairs": docs["near_pairs"],
            "ahash": {im[0]: im[2] for im in images["images"]},
        }
        return n

    # --------------------------------------------------------------- op

    def _ingest(self, n: int) -> list:
        from pyspark.sql import functions as F

        from isilon_hadoop_tools_spark.streaming import events, neardup

        spark, t = self.spark, self.tracer
        t.count("streaming.rows_in", CDC_FILES * CDC_ROWS + N_DOCS)
        cdc = spark.readStream.schema(CDC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(self._p("cdc_src"))
        with t.span("streaming.cdc_drain"):
            events.cdc_stream_into_snapshots(
                cdc, self._p("cdc_table"), checkpoint=self._p("cdc_ckpt"),
                compact_every=COMPACT_EVERY, vacuum_keep=VACUUM_KEEP,
            )
        docs = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(self._p("doc_src"))
        with t.span("streaming.simhash_drain"):
            neardup.simhash_stream_into_state(
                docs, self.neardup, max_hamming=SIMHASH_MAX_HAMMING, checkpoint=self._p("doc_ckpt"),
            )
        with t.span("ingest.read"):
            return (
                events.cdc_state_from_snapshots(spark, self._p("cdc_table"))
                .filter(F.col("user_id").isin(self.truth[n]["keys"]))
                .collect()
            )

    def _lazy(self, name: str, build, path: str) -> None:
        """A lazy operator's span has two children: ``build`` (the call)
        and ``execute`` (the parquet write that forces its output)."""
        t = self.tracer
        with t.span(name):
            with t.span(name + ".build"):
                df = build()
            with t.span(name + ".execute"):
                df.write.parquet(path)

    def _curate(self, n: int) -> None:
        from pyspark.sql import functions as F

        from isilon_hadoop_tools_spark import multimodal
        from isilon_hadoop_tools_spark.operators import corpus, dedup

        spark = self.spark
        out = lambda name: self._p("out", f"s{n:03d}", name)  # noqa: E731
        docs = spark.read.parquet(self._p("doc_src", f"s{n:03d}.parquet"))
        self._lazy(
            "operators.corpus.curation_pipeline",
            lambda: corpus.curation_pipeline(
                docs, "text", "doc_id", F.col("label"), min_len=MIN_SPAN, keep_pct=KEEP_PCT
            ),
            out("curated"),
        )
        survivors = (
            spark.read.parquet(out("curated"))
            .filter(F.col("keep_id") == F.col("id"))
            .select("id")
            .join(docs.select(F.col("doc_id").alias("id"), "text"), "id")
        )
        self._lazy(
            "operators.dedup.minhash_lsh_pairs",
            lambda: dedup.minhash_lsh_pairs(survivors, "text", "id"),
            out("text_pairs"),
        )
        self._lazy(
            "operators.dedup.connected_components",
            lambda: dedup.connected_components(
                survivors.select("id"), spark.read.parquet(out("text_pairs"))
            ),
            out("components"),
        )
        images = spark.read.parquet(self._p("img_src", f"s{n:03d}.parquet"))
        self._lazy(
            "multimodal.png_ahash",
            lambda: multimodal.png_ahash(images, "payload", "img_id"),
            out("ahash"),
        )
        self._lazy(
            "operators.dedup.hamming_band_pairs",
            lambda: dedup.hamming_band_pairs(
                spark.read.parquet(out("ahash")).select("img_id", "ahash"),
                "ahash", "img_id", bits=IMG_BITS, max_hamming=IMG_MAX_HAMMING, bands=IMG_BANDS,
            ),
            out("image_pairs"),
        )

    def warmup(self) -> list[str]:
        """One full-size landing, untimed, with one extra CDC file: its
        fifth commit runs the first compaction and vacuum, and every
        timed landing then holds exactly one compaction (its last
        commit). Returns the problems its checks found."""
        n = self._land(CDC_FILES + 1)
        rows = self._ingest(n)
        self._curate(n)
        return self._check(n, rows, None)

    def next(self):
        box: dict = {}

        def prepare():
            box["n"] = self._land()

        def run():
            box["rows"] = self._ingest(box["n"])
            self._curate(box["n"])

        def check(op_start):
            items = CDC_FILES * CDC_ROWS + N_DOCS + N_IMAGES
            return self._check(box["n"], box["rows"], op_start), items

        return prepare, run, check

    # ------------------------------------------------------------ checks

    def _check(self, n: int, lookup_rows, op_start) -> list[str]:
        truth = self.truth[n]
        problems: list[str] = []

        def expect(cond: bool, what: str) -> None:
            if not cond:
                problems.append(f"lake landing {n}: {what}")

        got = {r["user_id"]: (r["ts"], r["event_id"], r["event_type"], r["value"]) for r in lookup_rows}
        expect(got == {k: self.fold[k][1:] for k in truth["keys"]}, "point lookup differs from the fold")

        read = lambda name: pq.read_table(self._p("out", f"s{n:03d}", name)).to_pylist()  # noqa: E731
        curated = read("curated")
        # the quality filter keeps exactly the top KEEP_PCT percent
        expect(len(curated) == N_DOCS * KEEP_PCT // 100, f"kept {len(curated)} documents")
        by_text: dict[str, list[dict]] = {}
        for row in curated:
            by_text.setdefault(row["clean_text"], []).append(row)
        for rows in by_text.values():
            ids = [r["id"] for r in rows]
            expect(
                all(r["keep_id"] == min(ids) and r["n_dups"] == len(ids) for r in rows)
                and sum(r["keep_id"] == r["id"] for r in rows) == 1,
                "an exact-dedup group does not keep exactly its min id",
            )
        keep_of = {r["id"]: r["keep_id"] for r in curated}
        for group in truth["exact_groups"]:
            expect(len({keep_of[i] for i in group if i in keep_of}) <= 1,
                   f"planted exact group of {group[0]} keeps more than one row")
        survivors = {r["id"] for r in curated if r["keep_id"] == r["id"]}

        text_pairs = read("text_pairs")
        found = {(min(p["id_a"], p["id_b"]), max(p["id_a"], p["id_b"])) for p in text_pairs}
        expect(all(a in survivors and b in survivors for a, b in found), "a pair outside the survivors")
        eligible = [(min(a, b), max(a, b)) for a, b in truth["near_pairs"] if a in survivors and b in survivors]
        recall = sum(p in found for p in eligible) / len(eligible) if eligible else 1.0
        expect(recall >= RECALL_FLOOR, f"near-dup recall {recall:.2f} < {RECALL_FLOOR}")

        # keep-one: every survivor labelled with the min id of its
        # connected component in the pair graph
        parent = {i: i for i in survivors}

        def root(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for a, b in found:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        comps = {r["id"]: r["keep_id"] for r in read("components")}
        expect(set(comps) == survivors and all(comps[i] == root(i) for i in survivors),
               "component keep_id is not the component's min id")

        ref = truth["ahash"]
        expect({r["img_id"]: r["ahash"] for r in read("ahash")} == ref,
               "png_ahash differs from the reference mosaic hash")
        ids = sorted(ref)
        want = {
            (a, b, popcount(ref[a] ^ ref[b]))
            for x, a in enumerate(ids) for b in ids[x + 1:]
            if popcount(ref[a] ^ ref[b]) <= IMG_MAX_HAMMING
        }
        img_pairs = {(p["id_a"], p["id_b"], p["hamming"]) for p in read("image_pairs")}
        expect(img_pairs == want, f"image pairs {len(img_pairs)} != brute force {len(want)}")

        if op_start is not None:
            live_files, live_bytes = tree_size(self._p("cdc_table"), ".parquet")
            batches = self._micro_batches()
            for name, v in (
                ("streaming.batches", batches - self.batches_seen),
                ("operators.corpus.kept_share", len(curated) / N_DOCS),
                ("operators.dedup.recall", recall),
                ("operators.dedup.pairs_out", len(text_pairs) + len(img_pairs)),
                ("operators.snapshots.live_files", live_files),
                ("operators.snapshots.live_bytes", live_bytes),
            ):
                self.tracer.count(name, v, at=op_start)
        self.batches_seen = self._micro_batches()
        return problems

    def _micro_batches(self) -> int:
        """Micro-batches both streams have committed (one file per
        batch in each checkpoint's ``commits`` log)."""
        return sum(
            sum(not f.startswith(".") for f in os.listdir(self._p(ckpt, "commits")))
            for ckpt in ("cdc_ckpt", "doc_ckpt")
        )

    def final_check(self) -> list[str]:
        """Whole CDC state vs the pure-Python fold of every batch; the
        near-pair state vs a brute-force hamming scan over the indexed
        fingerprints of every landed document."""
        from isilon_hadoop_tools_spark.streaming import events

        problems = []
        state = {
            r["user_id"]: (r["ts"], r["event_id"], r["event_type"], r["value"])
            for r in events.cdc_state_from_snapshots(self.spark, self._p("cdc_table")).collect()
        }
        if state != {k: v[1:] for k, v in self.fold.items()}:
            problems.append("lake: final CDC state differs from the fold of all batches")
        members = pq.read_table(self._p("neardup_state", "fp_members")).to_pydict()
        if sorted(members["id"]) != sorted(self.doc_ids):
            problems.append("lake: the fingerprint index does not hold every landed document once")
        ids = np.array(members["id"], dtype=np.int64)
        fps = np.array(members["fp"], dtype=np.int64).view(np.uint64)
        want = set()
        for x in range(len(ids) - 1):
            xor = np.bitwise_xor(fps[x + 1:], fps[x])
            ham = np.unpackbits(xor.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)
            for y in np.nonzero(ham <= SIMHASH_MAX_HAMMING)[0]:
                a, b = int(ids[x]), int(ids[x + 1 + y])
                want.add((min(a, b), max(a, b), int(ham[y])))
        pairs = pq.read_table(self._p("neardup_state", "near_pairs")).to_pydict()
        got = set(zip(pairs["id_a"], pairs["id_b"], pairs["hamming"]))
        if got != want:
            problems.append(f"lake: near pairs {len(got)} != brute force {len(want)}")
        return problems

    # ------------------------------------------------------------ totals

    def stored_bytes(self) -> int:
        """Snapshot table after vacuum, near-dup state, curated results."""
        return sum(tree_size(self._p(d))[1] for d in ("cdc_table", "neardup_state", "out"))

    def consumed_input_bytes(self) -> int:
        return self.input_bytes
