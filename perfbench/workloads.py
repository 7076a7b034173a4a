"""The benchmark workloads.

Each workload builds its input from the seed (untimed), names the
operations one timed pass runs, checks every output against an oracle, and
in a traced run adds the per-layer numbers only it can produce.  Every
operation calls the program's public functions from outside.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import math
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
FILES_PER_TABLE = 8  # fixed, so inputs do not depend on the core count
QF_CONVS, QF_TURNS = 400, 6000
NEARDUP_COPIES, NEARDUP_HOT = 2, 150
NEARDUP_FAMILIES = {  # op name -> __spark_entry__ query
    "minhash": "dedup_minhash_pairs",
    "simhash32": "dedup_simhash_bandblock",
    "simhash64": "dedup_simhash64_bandblock",
    "cosine_banded": "embedding_neardup_banded",
}


def _canon(v):
    """Engine-neutral value key (ints and floats stay distinct)."""
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else round(v, 9))
    if isinstance(v, int):
        return ("i", v)
    return (type(v).__name__, str(v))


def rows_digest(rows, columns) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
    return len(canon), h.hexdigest()


def _split_table(src: str, dst: str) -> None:
    """Rewrite one parquet file as FILES_PER_TABLE contiguous slices."""
    t = pq.read_table(src)
    os.makedirs(dst, exist_ok=True)
    step = -(-t.num_rows // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        pq.write_table(t.slice(i * step, step), os.path.join(dst, f"part-{i:05d}.parquet"))


def _duck(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        if os.path.isdir(os.path.join(tables_dir, f"{t}.parquet")):
            con.execute(
                f"create view {t} as select * from "
                f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')"
            )
    return con


def _family_metric(op: str) -> str:
    return f"{'similarity' if op == 'cosine_banded' else 'dedup'}.{op}_s"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """A workload names its operations (``ops``) and groups them into the
    parts it reports (``parts``); builds its input from the seed
    (``prepare``); runs one operation (``run``) and returns the DataFrame an
    operation forces (``build``); checks every output of the run against an
    oracle (``check``, filling ``results``); and, in a traced run, calls single
    layers directly (``probe``) and derives its own per-layer numbers from the
    event log (``from_log``)."""

    min_warm = 1  # warm passes run even when --seconds is already spent

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.inputs: list[str] = []
        self.results: list[tuple[str, bool]] = []  # (op, output check passed)

    def warm_up(self, spark) -> None:
        """Part of set-up: scan each input once."""
        for p in self.inputs:
            spark.read.parquet(p).count()


class QualityFilter(Workload):
    """The CLI on seeded transcripts: a batch run writing all five output
    tables (``cli``), then a checkpointed run into a fresh checkpoint dir
    (``compute``) and a second run over that dir that resumes every stage
    (``resume``).  Arrow UDFs, the rule cascade, the output writes and the
    snapshot write/read path do almost all the work."""

    min_warm = 2

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from open_thoughts_spark.fixtures.transcripts import generate_transcripts

        gen = generate_transcripts(
            spark, n_convs=QF_CONVS, seed=self.seed, partitions=FILES_PER_TABLE
        )
        # whole conversations up to QF_TURNS turns, so every seed does the same work
        lens = gen.groupBy("conv_id").count().toPandas().sort_values("conv_id")
        keep, total = [], 0
        for cid, n in zip(lens["conv_id"], lens["count"]):
            if total + n <= QF_TURNS:
                keep.append(cid)
                total += n
        self.input = os.path.join(self.work, "transcripts")
        gen.filter(F.col("conv_id").isin(keep)).write.parquet(self.input)
        self.inputs = [self.input]
        self.turns = total
        self.n_out = 0
        self.checked: list[tuple[str, str]] = []  # (op, output dir)

    def ops(self) -> list[str]:
        return ["cli", "compute", "resume"]

    def parts(self) -> dict[str, list[str]]:
        return {"qf_cli": ["cli"], "qf_resume": ["compute", "resume"]}

    def run(self, spark, op: str) -> None:
        from open_thoughts_spark.__main__ import main

        self.n_out += 1
        out = os.path.join(self.work, f"out{self.n_out}")
        argv = ["--input", self.input, "--output", out, "--langid-mode", "udf"]
        if op == "compute":
            self.ck = os.path.join(self.work, f"ck{self.n_out}")
        if op != "cli":
            argv += ["--checkpoint-dir", self.ck]
        with contextlib.redirect_stdout(io.StringIO()):
            main(argv)
        self.checked.append((op, out))

    @staticmethod
    def _decisions_digest(df: pd.DataFrame) -> str:
        df = df.sort_values(["conv_id", "turn_idx"])
        h = hashlib.sha256()
        for row in zip(df["conv_id"], df["turn_idx"], df["drop_reason"], df["scrubbed_text"]):
            h.update(repr(tuple(None if pd.isna(v) else v for v in row)).encode())
        return h.hexdigest()

    def check(self, spark) -> None:
        """metrics rows sum to the input turns, and the per-turn drop_reason
        and scrubbed_text equal the pandas oracle's."""
        from open_thoughts_spark.oracle.pandas_oracle import oracle_decisions

        expected = self._decisions_digest(oracle_decisions(pd.read_parquet(self.input)))
        for op, out in self.checked:
            try:
                rows = int(pd.read_parquet(os.path.join(out, "metrics"))["rows"].sum())
                got = self._decisions_digest(pd.read_parquet(os.path.join(out, "decisions")))
                self.results.append((op, rows == self.turns and got == expected))
            except Exception as exc:  # missing output is a failed operation
                print(f"check {op} raised {type(exc).__name__}: {exc}")
                self.results.append((op, False))

    def build(self, spark, op: str):
        from open_thoughts_spark.pipeline.quality_filter import quality_filter, read_transcripts

        return quality_filter(read_transcripts(spark, self.input), langid_mode="udf")

    def probe(self, spark, tag: str) -> dict:
        """flags -> decision -> scrub over a pre-scored copy of the input."""
        from open_thoughts_spark.functions.langid import with_langid_udf
        from open_thoughts_spark.functions.perplexity import with_perplexity
        from open_thoughts_spark.rules.heuristics import with_decision, with_quality_flags
        from open_thoughts_spark.rules.scrub import with_scrubbed_text

        scored = os.path.join(self.work, "scored")
        spark.sparkContext.setJobDescription(f"{tag}:prescore")
        with_perplexity(with_langid_udf(spark.read.parquet(self.input))).write.parquet(scored)
        spark.sparkContext.setJobDescription(f"{tag}:rules")
        t0 = time.perf_counter()
        _noop(with_scrubbed_text(with_decision(with_quality_flags(spark.read.parquet(scored)))))
        return {"rules.decide_scrub_s": time.perf_counter() - t0}

    def from_log(self, log, tag: str, walls: dict) -> dict:
        out: dict[str, float] = {"checkpoint.count_jobs": 0, "checkpoint.resume_read_s": 0.0}
        cli = log.executions_where(lambda d: d == f"{tag}:cli")
        for x in cli:
            if x.kind == "write" and x.path:
                key = f"pipeline.write.{x.path.rstrip('/').rsplit('/', 1)[-1]}_s"
                out[key] = out.get(key, 0.0) + x.seconds
            elif x.kind == "collect":
                out["pipeline.metrics_collect_s"] = out.get("pipeline.metrics_collect_s", 0.0) + x.seconds
        # ArrowEvalPython rows per input turn per Arrow UDF operator of one plan
        first = next((x for x in cli if x.kind == "write"), None)
        udf_ops = {
            i for i, (x, n, m) in log.accum.items()
            if first and x == first.id and n.startswith("ArrowEvalPython") and m == "number of output rows"
        }
        rows = log.sql_metric({x.id for x in cli}, "ArrowEvalPython", "number of output rows")
        out["functions.udf_passes"] = rows / (self.turns * max(len(udf_ops), 1))

        compute = log.executions_where(lambda d: d == f"{tag}:compute")
        ck = "file:" + os.path.abspath(self.ck)
        commits = [i for i, x in enumerate(compute) if x.kind == "write" and (x.path or "").startswith(ck)]
        for stage, i in zip(["score", "decide", "finalize"], commits):
            t = compute[i].seconds
            if i + 1 < len(compute) and compute[i + 1].kind == "count":
                t += compute[i + 1].seconds  # the post-commit count()
            out[f"checkpoint.stage.{stage}_s"] = t
        for op in ("compute", "resume"):
            for x in log.executions_where(lambda d, op=op: d == f"{tag}:{op}"):
                if x.kind == "count":
                    out["checkpoint.count_jobs"] += sum(1 for e in log.job_exec.values() if e == x.id)
                    if op == "resume":
                        out["checkpoint.resume_read_s"] += x.seconds
        return out


class Queries(Workload):
    """Engine queries of ``__spark_entry__`` forced into a noop sink: the 28
    headline queries over the fixed sf0.001 tables split into files, then the
    four banded near-dup families over a seeded replicated corpus with one
    hot bucket.  Only the near-dup corpus depends on the seed."""

    def __init__(self, work: str, seed: int, headline: list[str]):
        super().__init__(work, seed)
        self.headline = headline
        self.tables = os.path.join(work, "tables")
        self.neardup = os.path.join(work, "neardup")

    def _queries(self) -> dict[str, tuple[str, str]]:
        """op -> (__spark_entry__ query, table dir)"""
        q = {n: (n, self.tables) for n in self.headline}
        q.update({f"neardup.{op}": (n, self.neardup) for op, n in NEARDUP_FAMILIES.items()})
        return q

    def ops(self) -> list[str]:
        return list(self._queries())

    def prepare(self, spark) -> None:
        for t in TABLES:
            _split_table(os.path.join(DATA, f"{t}.parquet"), os.path.join(self.tables, f"{t}.parquet"))
        self._neardup_corpus()
        self.inputs = [os.path.join(self.tables, f"{t}.parquet") for t in TABLES] + [
            os.path.join(self.neardup, f"{t}.parquet") for t in ("documents", "embeddings")
        ]

    def _neardup_corpus(self) -> None:
        """sf0.001 documents/embeddings, each row copied NEARDUP_COPIES times
        with 1-2 random word swaps or N(0, 0.05) vector noise, plus
        NEARDUP_HOT identical rows that share every band bucket."""
        rng = np.random.default_rng(self.seed)
        docs = pq.read_table(os.path.join(DATA, "documents.parquet")).to_pandas()
        vocab = sorted({w for t in docs["text"] for w in t.split()})
        frames = [docs]
        for c in range(1, NEARDUP_COPIES + 1):
            texts = []
            for t in docs["text"]:
                words = t.split()
                for _ in range(int(rng.integers(1, 3))):
                    words[int(rng.integers(len(words)))] = vocab[int(rng.integers(len(vocab)))]
                texts.append(" ".join(words))
            frames.append(docs.assign(doc_id=docs["doc_id"] + c * 100_000, text=texts))
        frames.append(pd.DataFrame({
            "doc_id": np.arange(NEARDUP_HOT, dtype="int64") + 900_000,
            "text": " ".join(rng.choice(vocab, size=8, replace=False)),
            "lang": "en", "source": "hot",
        }))
        corpus = pd.concat(frames, ignore_index=True)
        corpus["n_chars"] = corpus["text"].str.len().astype("int64")
        schema = pq.read_schema(os.path.join(DATA, "documents.parquet"))
        self._write("documents", pa.Table.from_pandas(corpus[schema.names], schema, preserve_index=False))

        emb = pq.read_table(os.path.join(DATA, "embeddings.parquet")).to_pandas()
        base = np.stack(emb["embedding"].to_numpy()).astype(np.float32)
        vecs, ids = [base], [emb["vec_id"].to_numpy()]
        labels = [emb["label"].to_numpy()] * (NEARDUP_COPIES + 1)
        for c in range(1, NEARDUP_COPIES + 1):
            vecs.append(base + rng.normal(0, 0.05, base.shape).astype(np.float32))
            ids.append(emb["vec_id"].to_numpy() + c * 100_000)
        vecs.append(np.tile(rng.normal(0, 1, base.shape[1]).astype(np.float32), (NEARDUP_HOT, 1)))
        ids.append(np.arange(NEARDUP_HOT, dtype="int64") + 900_000)
        labels.append(np.zeros(NEARDUP_HOT, dtype=emb["label"].dtype))
        schema = pq.read_schema(os.path.join(DATA, "embeddings.parquet"))
        self._write("embeddings", pa.table({
            "vec_id": np.concatenate(ids),
            "embedding": pa.array(list(np.concatenate(vecs)), type=schema.field("embedding").type),
            "label": np.concatenate(labels),
        }, schema=schema))

    def _write(self, name: str, table: pa.Table) -> None:
        os.makedirs(self.work, exist_ok=True)
        src = os.path.join(self.work, f"{name}.src.parquet")
        pq.write_table(table, src)
        _split_table(src, os.path.join(self.neardup, f"{name}.parquet"))
        os.remove(src)

    def build(self, spark, op: str):
        import __spark_entry__ as entry

        query, tables = self._queries()[op]
        return entry.queries()[query](spark, tables)

    def run(self, spark, op: str) -> None:
        _noop(self.build(spark, op))

    def check(self, spark) -> None:
        """Row count and order-insensitive digest of every query equal the
        DuckDB oracle_sql() result on the same tables."""
        import __spark_entry__ as entry

        cons = {d: _duck(d) for d in (self.tables, self.neardup)}
        for op, (query, tables) in self._queries().items():
            try:
                sdf = self.build(spark, op)
                got = rows_digest([tuple(r) for r in sdf.collect()], sdf.columns)
                res = cons[tables].execute(entry.oracle_sql()[query])
                want = rows_digest(res.fetchall(), [d[0] for d in res.description])
                self.results.append((op, got == want))
            except Exception as exc:  # a raising check is a failed operation
                print(f"check {op} raised {type(exc).__name__}: {exc}")
                self.results.append((op, False))

    def probe(self, spark, tag: str) -> dict:
        """Candidate pairs, verified pairs and the largest band bucket of the
        minhash family on the near-dup corpus."""
        from pyspark.sql import functions as F

        from open_thoughts_spark.operators import dedup

        spark.sparkContext.setJobDescription(f"{tag}:dedup")
        docs = spark.read.parquet(os.path.join(self.neardup, "documents.parquet"))
        sig = dedup.minhash_signature(docs, "doc_id", "text", num_perm=8, shingle_n=3)
        bands = dedup.lsh_bands(sig, "doc_id", bands=4, rows_per_band=2)
        cands = dedup.candidate_pairs(bands, "doc_id").count()
        biggest = bands.groupBy("band_idx", "band_key").count().agg(F.max("count")).first()[0]
        verified = self.build(spark, "neardup.minhash").count()
        return {
            "dedup.candidate_pairs": cands,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / cands if cands else 0.0,
            "dedup.max_bucket_rows": biggest,
        }

    def from_log(self, log, tag: str, walls: dict) -> dict:
        return {_family_metric(op): walls[f"neardup.{op}"] for op in NEARDUP_FAMILIES}

    def parts(self) -> dict[str, list[str]]:
        ops = self.ops()
        return {"headline_queries": self.headline, "neardup": [o for o in ops if o.startswith("neardup.")]}


def make(name: str, work: str, seed: int, headline: list[str]) -> Workload:
    if name == "queries":
        return Queries(work, seed, headline)
    if name == "qf":
        return QualityFilter(work, seed)
    raise SystemExit(f"unknown workload {name!r}")
