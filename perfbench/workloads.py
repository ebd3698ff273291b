"""The three workloads. Each one prepares seeded inputs, then acts as a
single closed-loop client issuing the engine's public operations, and
checks every result outside the timed region.

  corpus_bulk        encode_table -> full decode_table -> projected read
  corpus_append_scan base table, then encode_append batches interleaved
                     with predicate scans, stats_rollup and periodic
                     compact_table + full decode
  generic_lineitem   encode_generic(cluster_by=...) -> decode_generic ->
                     predicated, projected decode_generic
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from harness import (Client, digest_aggs, digest_cols, digest_of, dir_bytes,
                     file_count, median, scratch)

CORPUS_COLS = ["doc_id", "tokens", "n_tok", "source"]


def _winner_counts(codecs) -> dict[str, int]:
    from eggopress.codecs import INT_CODECS, STR_CODECS

    out = {c: 0 for c in INT_CODECS + STR_CODECS}
    for c in codecs:
        out[c] = out.get(c, 0) + 1
    return out


class Workload:
    name = ""

    def __init__(self, seed: int):
        self.seed = seed
        self.enc_rates: list[float] = []  # raw MB/s per encode op
        self.dec_rates: list[float] = []  # raw MB/s per full decode op
        # per scan: (chunks read / chunks in table, rows out / rows read)
        self.scan_meta: list[tuple[float, float]] = []

    # full decode + scan pairs per encode: the reads take a fraction of an
    # encode, and twice the samples steady their medians
    READS = 2

    def reset_samples(self) -> None:
        self.enc_rates.clear()
        self.dec_rates.clear()
        self.scan_meta.clear()
        getattr(self, "phase_samples", []).clear()

    def e2e(self, c: Client) -> dict:
        return {
            "encode_mb_per_s": median(self.enc_rates),
            "decode_mb_per_s": median(self.dec_rates),
            "scan_p50_s": median(c.walls.get("scan", [])),
            "ratio_vs_parquet_zstd": self.ratio(),
        }


class CorpusBulk(Workload):
    """The paper's headline job: encode a seeded corpus, decode every
    token back, read a projection."""

    name = "corpus_bulk"
    N_DOCS = 6_000
    PROBE_BATCHES = 2
    PROBE_BATCH_DOCS = 1_000

    def prepare(self, spark) -> None:
        from eggopress import synth, verify
        from pyspark.sql import functions as F

        path = self.corpus_path = scratch("input", "corpus")
        synth.corpus_df(spark, self.N_DOCS, seed=self.seed).write.parquet(path)
        self.corpus = spark.read.parquet(path)
        r = self.corpus.agg(*digest_aggs(CORPUS_COLS, "all"),
                            *digest_aggs(["n_tok", "source"], "proj"),
                            F.sum("n_tok").alias("t")).first()
        self.digest = digest_of(r, "all")
        self.proj_digest = digest_of(r, "proj")
        self.n_tok_sum = int(r["t"])
        self.ref_zstd = verify.parquet_reference_bytes(
            self.corpus, scratch("ref"), "zstd")
        self.table = scratch("corpus_tbl")
        self.batch_paths = []
        for i in range(self.PROBE_BATCHES):
            bp = scratch("input", f"batch_{i}")
            os.makedirs(bp)
            # block ids from 1000 up never collide with the corpus' doc ids
            b = synth.gen_block(1000 + i, self.PROBE_BATCH_DOCS, self.seed)
            pq.write_table(pa.Table.from_batches([b]),
                           os.path.join(bp, "part-0.parquet"))
            self.batch_paths.append(bp)

    def begin_phase(self, spark) -> None:
        self.spark = spark
        self.corpus = spark.read.parquet(self.corpus_path)
        self.phase_samples: list[dict] = []
        shutil.rmtree(self.table, ignore_errors=True)

    def iteration(self, c: Client) -> None:
        from eggopress import decode, encode

        spark = self.spark
        s, w = c.op("encode", lambda: encode.encode_table(
            spark, self.corpus, self.table))
        c.check("encode_table row/token totals",
                s["rows"] == self.N_DOCS and s["values"] == self.n_tok_sum)
        self.summary = s
        self.phase_samples.append(s["phase_sec"])
        self.enc_rates.append(s["raw_bytes"] / 1e6 / w)

        for _ in range(self.READS):
            d, w = c.op("decode", lambda: digest_cols(
                decode.decode_table(spark, self.table), CORPUS_COLS))
            c.check("full decode digest equals the input's", d == self.digest)
            self.dec_rates.append(s["raw_bytes"] / 1e6 / w)

            p, w = c.op("scan", lambda: digest_cols(decode.decode_table(
                spark, self.table, columns=["n_tok", "source"]),
                ["n_tok", "source"]))
            c.check("projected read digest equals the input's",
                    p == self.proj_digest)
            self.scan_meta.append((1.0, 1.0))

    def final_gates(self, c: Client) -> None:
        from eggopress import decode, verify

        def exact():
            dec = decode.decode_table(self.spark, self.table)
            ids = decode.decode_table(self.spark, self.table,
                                      columns=["doc_id"])
            return (verify.roundtrip_mismatches(self.corpus, dec).count() == 0
                    and ids.count() == self.N_DOCS)
        c.gate("corpus exact round trip", exact)

    def probe_append(self, c: Client) -> dict:
        """Traced runs only: price the append path on the encoded table
        (small encode_append batches, then compact_table), so the
        maintenance layer is measured on this workload; the decoded table
        must then equal the corpus plus the batches."""
        from eggopress import decode, encode, maintenance

        spark = self.spark
        for i, path in enumerate(self.batch_paths):
            batch = spark.read.parquet(path)
            s, _ = c.op("append", lambda: encode.encode_append(
                spark, batch, self.table, run_id=f"stream-{i}"))
            c.check("append row count", s["rows"] == self.PROBE_BATCH_DOCS)
        m, _ = c.op("compact", lambda: maintenance.compact_table(
            spark, self.table))
        c.gate("table after appends and compaction equals its inputs",
               lambda: digest_cols(decode.decode_table(spark, self.table),
                                   CORPUS_COLS)
               == digest_cols(spark.read.parquet(self.corpus_path,
                                                 *self.batch_paths),
                              CORPUS_COLS))
        return {"maintenance.files_before": m["files_before"],
                "maintenance.files_after": m["files_after"]}

    def ratio(self) -> float:
        return self.ref_zstd / dir_bytes(os.path.join(self.table, "data"))

    def counts(self) -> dict:
        from eggopress import maintenance
        from eggopress.tablefmt import Table

        man = pq.read_table(os.path.join(self.table, "manifest"),
                            columns=["codec"]).column("codec").to_pylist()
        per_part = maintenance.partition_file_counts(Table(self.table))
        files = file_count(os.path.join(self.table, "data"))
        return {
            "table.encoded_bytes": self.summary["encoded_bytes"],
            "table.chunks": self.summary["chunks"],
            "table.files_written": files,
            "tablefmt.files_total": files,
            "tablefmt.files_per_partition_max": max(per_part.values()),
            **{f"codecs.winner.{k}": v
               for k, v in _winner_counts(man).items()},
        }


class CorpusAppendScan(Workload):
    """Write beside read: small appends into a corpus table, each followed
    by predicate scans and a metadata rollup; every COMPACT_EVERY appends
    a compaction and a full decode."""

    name = "corpus_append_scan"
    BASE_DOCS = 6_000
    BATCH_DOCS = 1_000
    COMPACT_EVERY = 2
    MAX_BATCHES = 12
    N_TOK_RANGE = (400, 460)
    TOKEN_RANGE = (2**31 - 2**21, 2**31 - 1)

    def prepare(self, spark) -> None:
        from eggopress import encode, synth
        from pyspark.sql import functions as F

        base = self.base_path = scratch("input", "base")
        synth.corpus_df(spark, self.BASE_DOCS, seed=self.seed).write.parquet(base)
        self.batch_paths = []
        for i in range(self.MAX_BATCHES):
            path = scratch("input", f"batch_{i}")
            os.makedirs(path)
            # block ids from 1000 up never collide with the base's doc ids
            b = synth.gen_block(1000 + i, self.BATCH_DOCS, self.seed)
            pq.write_table(pa.Table.from_batches([b]),
                           os.path.join(path, "part-0.parquet"))
            self.batch_paths.append(path)
        # expected answers per input file, from plain Spark filters and
        # aggregates; the answer after k batches is the sum over the
        # base and the first k batches
        lo, hi = self.N_TOK_RANGE
        tlo, thi = self.TOKEN_RANGE
        rows = (
            spark.read.parquet(base, *self.batch_paths)
            .withColumn("file", F.input_file_name())
            .groupBy("file", "source").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_tok").alias("t"),
                F.count_if(F.col("n_tok").between(lo, hi)).alias("n1"),
                F.count_if(F.expr(
                    f"exists(tokens, t -> t >= {tlo} and t <= {thi})"
                )).alias("n2"),
                *digest_aggs(CORPUS_COLS),
            ).collect())
        self.per_input = [[] for _ in range(self.MAX_BATCHES + 1)]
        for r in rows:
            k = 0 if "/base/" in r["file"] else 1 + int(
                r["file"].split("/batch_")[1].split("/")[0])
            self.per_input[k].append(r.asDict())
        self.base_table = scratch("append_base_tbl")
        encode.encode_table(spark, spark.read.parquet(base), self.base_table)
        self.table = scratch("append_tbl")

    def begin_phase(self, spark) -> None:
        self.spark = spark
        shutil.rmtree(self.table, ignore_errors=True)
        shutil.copytree(self.base_table, self.table)
        self.batch_no = 0
        self.compactions: list[dict] = []
        self.batch_stats: list[dict] = []

    def _expected(self) -> dict:
        """Expected answers over the base plus the batches appended."""
        rows = [r for k in range(self.batch_no + 1) for r in self.per_input[k]]
        rollup: dict[str, list[int]] = {}
        for r in rows:
            acc = rollup.setdefault(r["source"], [0, 0])
            acc[0] += r["n"]
            acc[1] += r["t"]
        return {
            "n1": sum(r["n1"] for r in rows),
            "n2": sum(r["n2"] for r in rows),
            "rollup": sorted((k, v[0], v[1]) for k, v in rollup.items()),
            "digest": tuple(sum(r[f"d_{k}"] for r in rows)
                            for k in ("n", "lo", "hi")),
        }

    def _chunk_frac(self, col_lo: str, col_hi: str, lo: int, hi: int,
                    rows_out: int) -> tuple[float, float]:
        """(chunks read / chunks in table, rows returned / rows read) for
        a min/max-skipping scan, from the chunk stats columns."""
        t = pq.read_table(os.path.join(self.table, "data"),
                          columns=["n_rows", col_lo, col_hi])
        n_rows = t.column("n_rows").to_numpy()
        keep = ((t.column(col_hi).to_numpy() >= lo)
                & (t.column(col_lo).to_numpy() <= hi))
        scanned = int(n_rows[keep].sum())
        return (float(keep.mean()) if len(keep) else 0.0,
                rows_out / scanned if scanned else 0.0)

    def iteration(self, c: Client) -> None:
        from eggopress import decode, encode, maintenance

        spark = self.spark
        i = self.batch_no
        if i >= self.MAX_BATCHES:
            raise RuntimeError(f"more than {self.MAX_BATCHES} appends; "
                               "raise MAX_BATCHES")
        batch = spark.read.parquet(self.batch_paths[i])
        s, w = c.op("append", lambda: encode.encode_append(
            spark, batch, self.table, run_id=f"stream-{i}"))
        c.check("append row count", s["rows"] == self.BATCH_DOCS)
        self.enc_rates.append(s["raw_bytes"] / 1e6 / w)
        self.batch_stats.append(s)
        self.batch_no += 1
        exp = self._expected()

        cols = ["doc_id", "n_tok", "source"]
        d1, _ = c.op("scan", lambda: digest_cols(decode.decode_table(
            spark, self.table, n_tok_range=self.N_TOK_RANGE, columns=cols),
            cols))
        c.check("n_tok_range scan count equals a plain filter",
                d1[0] == exp["n1"])
        self.scan_meta.append(self._chunk_frac(
            "n_tok_min", "n_tok_max", *self.N_TOK_RANGE, d1[0]))

        d2, _ = c.op("scan", lambda: digest_cols(decode.decode_table(
            spark, self.table, token_range=self.TOKEN_RANGE, columns=cols),
            cols))
        c.check("token_range scan count equals a plain filter",
                d2[0] == exp["n2"])
        self.scan_meta.append(self._chunk_frac(
            "tok_min", "tok_max", *self.TOKEN_RANGE, d2[0]))

        r, _ = c.op("rollup", lambda: sorted(
            (row["source"], int(row["n_docs"]), int(row["n_tok_sum"]))
            for row in decode.stats_rollup(spark, self.table).collect()))
        c.check("stats_rollup equals a plain groupBy", r == exp["rollup"])

        if self.batch_no % self.COMPACT_EVERY == 0:
            m, _ = c.op("compact", lambda: maintenance.compact_table(
                spark, self.table))
            self.compactions.append(m)
            d, w = c.op("decode", lambda: digest_cols(
                decode.decode_table(spark, self.table), CORPUS_COLS))
            c.check("decode after compaction equals base plus batches",
                    d == exp["digest"])
            raw = self._raw_bytes()
            self.dec_rates.append(raw / 1e6 / w)

    def _raw_bytes(self) -> int:
        from eggopress.tablefmt import Table

        return int(Table(self.table).snapshot()["totals"]["raw_bytes"])

    def final_gates(self, c: Client) -> None:
        from eggopress import decode, verify

        def exact():
            allin = self.spark.read.parquet(
                self.base_path, *self.batch_paths[:self.batch_no])
            dec = decode.decode_table(self.spark, self.table)
            ids = decode.decode_table(self.spark, self.table,
                                      columns=["doc_id"])
            return (verify.roundtrip_mismatches(allin, dec).count() == 0
                    and ids.count() == allin.count())
        c.gate("appended table equals base plus every batch", exact)

    def ratio(self) -> float:
        from eggopress import verify

        ref = verify.parquet_reference_bytes(
            self.spark.read.parquet(
                self.base_path, *self.batch_paths[:self.batch_no]),
            scratch("ref"), "zstd")
        return ref / dir_bytes(os.path.join(self.table, "data"))

    def counts(self) -> dict:
        from eggopress import maintenance
        from eggopress.tablefmt import Table

        # the first batch's figures repeat exactly for a seed; the table's
        # final state depends on how many batches fit in the run
        first = self.batch_stats[0]
        man = pq.read_table(os.path.join(
            self.table, "manifest", "append-stream-0.parquet"),
            columns=["codec"]).column("codec").to_pylist()
        per_part = maintenance.partition_file_counts(Table(self.table))
        return {
            "table.encoded_bytes": first["encoded_bytes"],
            "table.chunks": first["chunks"],
            "table.files_written": first["partitions"],
            "tablefmt.files_total": file_count(
                os.path.join(self.table, "data")),
            "tablefmt.files_per_partition_max": max(per_part.values()),
            "maintenance.files_before": median(
                [m["files_before"] for m in self.compactions]),
            "maintenance.files_after": median(
                [m["files_after"] for m in self.compactions]),
            **{f"codecs.winner.{k}": v
               for k, v in _winner_counts(man).items()},
        }


class GenericLineitem(Workload):
    """The schema-agnostic engine on a seeded TPC-H-style lineitem:
    string, double and date codec selection, no tablefmt or lineage."""

    name = "generic_lineitem"
    ROWS = 80_000
    CLUSTER = ("l_shipdate", "l_orderkey")
    SHIP_DAYS = (9131, 9191)  # 1995-01-01 .. 1995-03-02
    SCAN_COLS = ["l_orderkey", "l_extendedprice", "l_shipdate"]

    def prepare(self, spark) -> None:
        from eggopress import verify
        from pyspark.sql import functions as F

        import lineitem

        path = scratch("input", "lineitem")
        os.makedirs(path)
        pq.write_table(lineitem.lineitem(self.ROWS, self.seed),
                       os.path.join(path, "part-0.parquet"))
        self.path = path
        self.df = spark.read.parquet(path)
        self.cols = list(self.df.columns)
        self.digest = digest_cols(self.df, self.cols)
        lo, hi = self.SHIP_DAYS
        sel = self.df.filter(
            F.datediff("l_shipdate", F.lit("1970-01-01")).between(lo, hi))
        self.scan_digest = digest_cols(sel, self.SCAN_COLS)
        self.ref_zstd = verify.parquet_reference_bytes(
            self.df, scratch("ref"), "zstd")
        self.table = scratch("lineitem_tbl")

    def begin_phase(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(self.path)
        shutil.rmtree(self.table, ignore_errors=True)

    def iteration(self, c: Client) -> None:
        from eggopress import generic

        spark = self.spark
        s, w = c.op("encode", lambda: generic.encode_generic(
            spark, self.df, self.table, cluster_by=self.CLUSTER))
        c.check("encode_generic row total", s["rows"] == self.ROWS)
        self.summary = s
        self.enc_rates.append(s["raw_bytes"] / 1e6 / w)

        for _ in range(self.READS):
            d, w = c.op("decode", lambda: digest_cols(
                generic.decode_generic(spark, self.table), self.cols))
            c.check("full decode digest equals the input's", d == self.digest)
            self.dec_rates.append(s["raw_bytes"] / 1e6 / w)

            p, _ = c.op("scan", lambda: digest_cols(generic.decode_generic(
                spark, self.table, columns=self.SCAN_COLS,
                where={"l_shipdate": self.SHIP_DAYS}), self.SCAN_COLS))
            c.check("predicated scan equals a plain filter",
                    p == self.scan_digest)
        t = pq.read_table(os.path.join(self.table, "data"),
                          columns=["n_rows", "l_shipdate__min",
                                   "l_shipdate__max"])
        n_rows = t.column("n_rows").to_numpy()
        lo, hi = self.SHIP_DAYS
        keep = ((t.column("l_shipdate__max").to_numpy() >= lo)
                & (t.column("l_shipdate__min").to_numpy() <= hi))
        self.scan_meta.append((float(keep.mean()),
                               p[0] / max(int(n_rows[keep].sum()), 1)))

    def final_gates(self, c: Client) -> None:
        from eggopress import generic
        from pyspark.sql import functions as F

        def exact():
            # (l_orderkey, l_linenumber) is unique: a full outer join on it
            # pairs every input row with its decoded row; any lost,
            # fabricated, duplicated or changed row shows in the aggregate
            dec = generic.decode_generic(self.spark, self.table)
            a, b = self.df.alias("a"), dec.alias("b")
            keys = ["l_orderkey", "l_linenumber"]
            j = a.join(b, keys, "full_outer")
            bad = F.col("a.l_partkey").isNull() | F.col("b.l_partkey").isNull()
            for c_ in self.cols:
                if c_ not in keys:
                    bad = bad | ~F.col(f"a.{c_}").eqNullSafe(F.col(f"b.{c_}"))
            r = j.agg(F.count(F.lit(1)).alias("n"),
                      F.count_if(bad).alias("bad")).first()
            return r["n"] == self.ROWS and r["bad"] == 0
        c.gate("lineitem exact round trip", exact)

    def ratio(self) -> float:
        return self.ref_zstd / dir_bytes(os.path.join(self.table, "data"))

    def counts(self) -> dict:
        import pyarrow.compute as pc

        data = os.path.join(self.table, "data")
        t = pq.read_table(data, columns=[f"{c}__codec" for c in self.cols]
                          + [f"{c}__blob" for c in self.cols])
        winners = [v for c in self.cols
                   for v in t.column(f"{c}__codec").to_pylist()]
        out = {
            "table.encoded_bytes": self.summary["encoded_bytes"],
            "table.chunks": self.summary["chunks"],
            "table.files_written": file_count(data),
            **{f"codecs.winner.{k}": v
               for k, v in _winner_counts(winners).items()},
        }
        for c in self.cols:
            out[f"generic.col_bytes.{c}"] = pc.sum(
                pc.binary_length(t.column(f"{c}__blob"))).as_py()
        return out


WORKLOADS = {w.name: w for w in (CorpusBulk, CorpusAppendScan,
                                 GenericLineitem)}
