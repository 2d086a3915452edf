"""The benchmark workloads: seeded inputs, the timed operation, and the
output check of each.

A workload object provides:

* ``generate()`` -- build the seeded input tables in this process: the
  corpus, and a small table of the same shape for the warm-up;
* ``materialize(spark, data_dir)`` -- write them as parquet files, which
  the program then reads like any other table;
* ``warm(spark)`` -- run the operation on the small table, so Python
  workers are forked, modules imported and Spark's generated code
  compiled before anything is timed;
* ``op(spark)`` -- one timed operation, returning observed counts that
  ``check(res)`` compares with expectations the generator knows
  independently of the program;
* ``kernel_sample()`` -- (extraction workloads) a seeded payload sample
  for kernel timing.

See NOTES.md for why each workload exists and which layers it loads.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random

# Word soup shaped like the sf0.1 ``documents`` table (lower-case
# tokens from a ~35-word vocabulary, ~300 chars per document).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
LANGS = ["en", "en", "en", "en", "zh", "de", "fr", "es"]
MIN_WORDS, MAX_WORDS = 30, 110


def base_docs(n: int, seed: int) -> list[tuple[int, str, str]]:
    """``n`` seeded (doc_id, text, lang) rows."""
    rng = random.Random(seed)
    return [
        (
            i,
            " ".join(
                rng.choice(VOCAB)
                for _ in range(rng.randint(MIN_WORDS, MAX_WORDS))
            ),
            rng.choice(LANGS),
        )
        for i in range(n)
    ]


def write_parquet(columns: dict[str, list], path: str, files: int) -> None:
    """Write ``columns`` as ``files`` parquet files under ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(columns)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(
            table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet")
        )


class NullTracer:
    """Untraced runs: spans cost nothing and set no job description."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Workload:
    name = ""
    # extraction workloads run the kernel, operators, pipeline and
    # checkpoint layers of a traced run; the others report 0 for them
    extracts = False

    def __init__(self, seed: int, nproc: int) -> None:
        self.seed = seed
        self.nproc = nproc
        self.n_docs = 0
        self.input_mb = 0.0
        # a traced run swaps in a tracer that names the Spark jobs of
        # each public call
        self.tracer = NullTracer()

    def corpus(self, spark):
        return spark.read.parquet(self.corpus_path)

    def materialize(self, spark, data_dir: str) -> None:
        """Write the generated tables and have Spark read the corpus once."""
        self.corpus_path = os.path.join(data_dir, "corpus")
        self.warm_path = os.path.join(data_dir, "warm")
        write_parquet(self.tables["warm"], self.warm_path, 2 * self.nproc)
        write_parquet(self.tables["corpus"], self.corpus_path, 2 * self.nproc)
        if self.corpus(spark).count() != self.n_docs:
            raise RuntimeError("the materialized corpus lost rows")

    def warm(self, spark) -> None:
        self.run(spark, spark.read.parquet(self.warm_path))

    def op(self, spark) -> dict:
        return self.run(spark, self.corpus(spark))


class MixedDocs(Workload):
    """Every fixture class of ``sources.corpus`` in fixed proportions."""

    name = "mixed_docs"
    extracts = True

    def __init__(self, seed: int, nproc: int, cycles: int = 10):
        super().__init__(seed, nproc)
        from smart_ocr_spark.sources import corpus as C

        # one cycle holds each class exactly ``weight`` times, so every
        # seed has the same class mix and only the content changes; a
        # random class draw would move the 1 MB blob count by ~20%
        # between seeds and every timing with it
        self.schedule = [name for name, w in C.CLASSES for _ in range(w)]
        self.cycles = cycles
        self.seen_checksums: set[int] = set()
        self.seen_mismatches: set[int] = set()

    def generate(self) -> None:
        """Documents (url, warc_ts, html, text = golden final_text, lang)."""
        names = ("url", "warc_ts", "html", "text", "lang")
        rows = self.rows()
        self.tables = {
            name: {k: [r[i] for r in table] for i, k in enumerate(names)}
            for name, table in (("warm", self.rows(small=True)), ("corpus", rows))
        }
        self.n_docs = len(rows)
        self.input_mb = sum(len(r[2]) for r in rows) / 1e6
        self.sample = self.pick_sample(rows)

    def rows(self, small: bool = False) -> list[tuple]:
        """``sources.corpus.corpus_df`` rows, with the class of document
        ``i`` taken from the fixed schedule instead of the seeded draw.
        The small table holds one document of each class."""
        from smart_ocr_spark.sources import corpus as C

        builders = {**C._HTML_BUILDERS, **C._PDF_BUILDERS}
        n = len(self.schedule)
        if small:
            classes = [name for name, _ in C.CLASSES]
            docs = [(n * self.cycles + i, c) for i, c in enumerate(classes)]
        else:
            docs = [(i, self.schedule[i % n]) for i in range(self.cycles * n)]
        rows = []
        for i, cls in docs:
            rng = random.Random((self.seed << 20) ^ i)
            lang = C._LANGS[rng.randrange(len(C._LANGS))]
            vocab = C._VOCAB[lang]
            host = C._HOSTS[rng.randrange(len(C._HOSTS))]
            if cls in C._PDF_BUILDERS and lang == "zh":
                vocab = C._VOCAB["en"]  # PDF literal strings are latin-1
            payload, golden = builders[cls](rng, vocab)
            if isinstance(payload, str):
                payload = payload.encode("utf-8")
            rows.append((
                f"https://{host}/{cls}/{i:07d}",
                C.EPOCH + dt.timedelta(seconds=i * 17),
                payload,
                golden,
                lang,
            ))
        return rows

    def pick_sample(self, rows):
        """Three documents of every fixture class."""
        by_cls: dict[str, list] = {}
        for r in rows:
            by_cls.setdefault(r[0].split("/")[3], []).append(r[2])
        rng = random.Random(self.seed)
        return [
            (cls, p) for cls in sorted(by_cls) for p in rng.sample(by_cls[cls], 3)
        ]

    def kernel_sample(self):
        """(fixture class, payload) pairs and each class's corpus share."""
        weights = {c: self.schedule.count(c) for c in set(self.schedule)}
        return self.sample, weights

    def run(self, spark, docs) -> dict:
        """``run_extraction`` forced by one aggregate over its output
        joined with the golden texts."""
        from pyspark.sql import functions as F

        from smart_ocr_spark.plans.extract_pipeline import run_extraction

        with self.tracer.span("extract_pipeline.run_extraction"):
            out = run_extraction(spark, docs)
            r = (
                out.join(docs.select("url", F.col("text").alias("golden")), "url")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(xxhash64(url, final_text))").alias("checksum"),
                    F.sum((F.size("attempts") > 1).cast("long")).alias("multi"),
                    F.sum((F.col("final_text") != F.col("golden")).cast("long"))
                    .alias("mismatches"),
                )
                .collect()[0]
            )
        return {
            "rows": int(r["n"]),
            "checksum": int(r["checksum"] or 0),
            "multi_attempt_rows": int(r["multi"] or 0),
            "golden_mismatches": int(r["mismatches"] or 0),
        }

    def check(self, res: dict) -> list[str]:
        errs = []
        if res["rows"] != self.n_docs:
            errs.append(f"rows {res['rows']} != {self.n_docs}")
        # a few fixture documents are known not to round-trip byte for
        # byte (7 of 20k docs at seed 7); more than 1% is a regression
        if res["golden_mismatches"] > self.n_docs // 100:
            errs.append(f"{res['golden_mismatches']} golden mismatches")
        # the output must not depend on the run: every repetition of a
        # process agrees on checksum and mismatch count
        self.seen_checksums.add(res["checksum"])
        self.seen_mismatches.add(res["golden_mismatches"])
        if len(self.seen_checksums) > 1 or len(self.seen_mismatches) > 1:
            errs.append("output differs between repetitions")
        return errs


class NeardupDedup(Workload):
    """MinHash and n-gram near-duplicate pairs plus the keep-list over
    replicated documents with planted duplicate pairs."""

    name = "neardup_dedup"
    REPLICAS = 4  # even: planted duplicates pair replicas (r, r ^ 1)

    def __init__(self, seed: int, nproc: int, n_base: int = 800):
        super().__init__(seed, nproc)
        self.n_base = n_base

    def generate(self) -> None:
        """The ``curation_scaling.build_docs`` shape: every token carries
        a replica prefix, so replicas share no shingle -- except every
        10th document, which is byte-identical within each replica pair
        (r, r ^ 1) and so forms exactly one pair of Jaccard 1.0 there."""
        self.tables = {}
        for name, n_base in (("warm", self.n_base // 15), ("corpus", self.n_base)):
            cols = {"doc_id": [], "text": [], "lang": []}
            planted = 0
            for doc_id, text, lang in base_docs(n_base, self.seed):
                planted += doc_id % 10 == 0
                for r in range(self.REPLICAS):
                    pfx = f"p{r // 2}" if doc_id % 10 == 0 else f"r{r}"
                    cols["doc_id"].append(doc_id + r * 10_000_000)
                    cols["text"].append(" ".join(pfx + t for t in text.split(" ")))
                    cols["lang"].append(lang)
            self.tables[name] = cols
        self.expected_pairs = planted * self.REPLICAS // 2
        self.n_docs = len(cols["doc_id"])
        self.input_mb = sum(len(t) for t in cols["text"]) / 1e6

    def run(self, spark, docs) -> dict:
        from smart_ocr_spark.functions import dedup
        from smart_ocr_spark.functions.cache import cache_scope, pin
        from smart_ocr_spark.functions.components import canonical_docs

        span = self.tracer.span
        with cache_scope():
            with span("dedup.minhash_dedup_pairs"):
                pairs = pin(dedup.minhash_dedup_pairs(docs, threshold=0.8))
                n_mh = pairs.count()
            with span("dedup.ngram_jaccard_pairs"):
                n_ng = dedup.ngram_jaccard_pairs(docs, threshold=0.8).count()
            with span("components.canonical_docs"):
                n_canon = canonical_docs(docs.select("doc_id"), pairs).count()
        return {"minhash_pairs": n_mh, "ngram_pairs": n_ng, "canonical": n_canon}

    def check(self, res: dict) -> list[str]:
        errs = []
        for k in ("minhash_pairs", "ngram_pairs"):
            if res[k] != self.expected_pairs:
                errs.append(f"{k} {res[k]} != {self.expected_pairs}")
        keep = self.n_docs - self.expected_pairs
        if res["canonical"] != keep:
            errs.append(f"canonical {res['canonical']} != {keep}")
        return errs


WORKLOADS = {w.name: w for w in (MixedDocs, NeardupDedup)}
