"""The benchmark workloads.

Each workload drives the package only through its public functions.  The
harness (``run.py``) calls, in order: :meth:`generate` (inputs, untimed),
:meth:`warm_up` (the workload's first operations, counted in ``setup_s``),
:meth:`step` in a closed loop until the run's deadline, then :meth:`gate`
(correctness checks, untimed).  A step returns one :class:`Sample`; a workload with a
``final_step`` runs it once after the deadline, timed.
"""

from __future__ import annotations

import time
import zlib
from dataclasses import dataclass, field
from pathlib import Path

import gen


@dataclass
class Sample:
    op_s: float  # the whole operation: an hour or a curation pass
    read_s: float  # its read-back tail: fresh reads, or collecting the funnel
    items: int  # input events or documents the operation handled


@dataclass
class Checks:
    """Correctness checks: each is one attempted operation."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def traced(tracer, name: str, fn):
    """``fn()``, inside a span called ``name`` when the run is traced."""
    if tracer is None:
        return fn()
    with tracer.span(name):
        return fn()


def force(df) -> int:
    """Row count that evaluates every output column (a bare ``count`` lets
    Catalyst prune projections): hash a struct of all columns into an
    aggregate, the way the repo's ``bench.py`` forces its queries."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))).alias("h"),
    ).collect()[0]
    return row["n"]


def key_checksum(keys) -> int:
    """Order-free checksum of (id, epoch ms) keys, the same sum of CRC-32s
    that the gate computes in Spark."""
    return sum(zlib.crc32(f"{i}|{ms}".encode()) for i, ms in keys)


# -- etl_hourly -------------------------------------------------------------------

class EtlHourly:
    """Consecutive landing hours through ``run_workflow`` (the watermark
    picks each hour), two fresh reads after every commit, and a final
    replay of an earlier hour.  Hour 0 is a production-size hour that
    fills the warehouse; the measured hours are small batches merged into
    it, so merge and change-feed costs that scale with the table show."""

    name = "etl_hourly"

    def __init__(self, work: Path, seed: int, seconds: int, tiny: bool) -> None:
        self.work, self.seed = work, seed
        self.events = 300 if tiny else 4_000
        self.first_events = 600 if tiny else gen.ETL_FIRST_HOUR_EVENTS
        # Hour 0 (warm-up) plus enough hours for a loop at 1 s per hour,
        # ten times faster than the current program; a run that exhausts
        # them ends early.
        self.n_hours = 3 if tiny else max(4, seconds + 2)
        self.lake = work / "lake"
        self.done: list[gen.EtlHour] = []  # hours committed, in order
        self.checks = Checks()
        self.tracer = None

    def generate(self) -> None:
        self.hours = gen.gen_etl_hours(
            self.seed, self.work / "inputs" / "landing",
            [self.first_events] + [self.events] * (self.n_hours - 1),
        )
        self.input_bytes = {
            h.glob: sum(p.stat().st_size for p in Path(h.glob).parent.glob(Path(h.glob).name))
            for h in self.hours
        }

    def _table(self, name: str) -> str:
        return str(self.lake / "warehouse" / name)

    def warm_up(self, spark) -> None:
        # Hour 0 is the cold-start commit (a plain write, no merge) that
        # fills the warehouse.
        self._hour(spark, 0)

    def step(self, spark, i: int) -> Sample | None:
        if i + 1 >= len(self.hours):
            return None
        return self._hour(spark, i + 1)

    def final_step(self, spark) -> Sample:
        """The run ends by replaying the first measured hour (a 4,000-event
        hour, whatever the loop reached); the upsert must leave the
        warehouse unchanged.  Its time is one of the samples of
        ``op_s.p50``."""
        return self._hour(spark, 1, replay=True)

    def _hour(self, spark, idx: int, replay: bool = False) -> Sample:
        from door2door_etl_spark.io.versioned import VersionedParquetTable, table_changes
        from door2door_etl_spark.pipeline import run_workflow
        from pyspark.sql import functions as F

        hour = self.hours[idx]
        vt = VersionedParquetTable(self._table("vehicle_location"))
        prev = vt.current_version()
        self.prev_versions = {t: VersionedParquetTable(self._table(t)).current_version()
                              for t in ("vehicle_location", "operating_periods")}
        t0 = time.perf_counter()
        summary = run_workflow(spark, hour.glob, str(self.lake),
                               fetch_hour=hour.start if replay else None)
        t1 = time.perf_counter()
        latest = traced(self.tracer, "io.versioned.read_latest", lambda: force(
            vt.read(spark).groupBy("vehicle_id").agg(F.max_by(
                F.struct("vehicle_latitude", "vehicle_longitude"), "event_timestamp"
            ).alias("pos"))))
        changes = None
        if prev is not None:
            changes = traced(self.tracer, "io.versioned.table_changes", lambda: force(
                table_changes(spark, self._table("vehicle_location"), "event_generated_id", prev)))
        t2 = time.perf_counter()
        if replay:
            self.replayed = hour
        else:
            self.done.append(hour)
        self._commit_stats(hour)
        c = self.checks
        c.check(summary.get("bronze_path", "").endswith(
            f"dt={hour.start:%Y-%m-%d}/hr={hour.start:%H}"),
            f"hour {idx}: watermark picked {summary.get('bronze_path')}")
        seen = set().union(*(h.vehicles for h in self.done))
        c.check(latest == len(seen), f"hour {idx}: latest positions {latest} != {len(seen)}")
        if changes is not None:
            want = 0 if replay else len(hour.vehicle_keys)
            c.check(changes == want, f"hour {idx}: change feed {changes} != {want}")
        return Sample(op_s=t2 - t0, read_s=t2 - t1,
                      items=len(hour.vehicle_keys) + len(hour.period_keys))

    def _commit_stats(self, hour: gen.EtlHour) -> None:
        """Traced loop only: files and bytes in the snapshots just committed
        (tables are unpartitioned, so every file of a snapshot is new)."""
        if self.tracer is None or not self.tracer.in_operation:
            return
        from door2door_etl_spark.io.versioned import VersionedParquetTable

        for table in ("vehicle_location", "operating_periods"):
            vt = VersionedParquetTable(self._table(table))
            snap = Path(vt.data_path())
            files = [p for p in snap.rglob("*.parquet") if p.is_file()]
            self.tracer.counters["io.versioned.files_written"] += len(files)
            self.tracer.counters["io.versioned.bytes_written"] += sum(p.stat().st_size for p in files)
        self.tracer.counters["input_bytes"] += self.input_bytes[hour.glob]

    def bronze_rows(self, hour: gen.EtlHour) -> int:
        """Rows the ingestor staged for ``hour``, read from parquet footers."""
        import pyarrow.parquet as pq

        d = self.lake / "bronze" / f"dt={hour.start:%Y-%m-%d}" / f"hr={hour.start:%H}"
        return sum(pq.ParquetFile(p).metadata.num_rows for p in d.glob("*.parquet"))

    def gate(self, spark) -> None:
        from door2door_etl_spark.io.versioned import VersionedParquetTable, table_changes
        from pyspark.sql import functions as F

        c = self.checks
        for h in self.done:
            c.check(self.bronze_rows(h) == h.rows_staged,
                    f"{h.start}: staged {self.bronze_rows(h)} != {h.rows_staged}")
        # The replay (the run's final step) changed nothing.
        version = self.prev_versions["operating_periods"]
        c.check(table_changes(spark, self._table("operating_periods"), "event_generated_id",
                              version).count() == 0, "replay produced changes in operating_periods")
        # Warehouse keys equal the generator's: row count, distinct keys,
        # distinct event_generated_ids and an order-free checksum of the
        # (id, epoch ms) keys all match.
        for t, id_col, attr in (("vehicle_location", "vehicle_id", "vehicle_keys"),
                                ("operating_periods", "operating_period_id", "period_keys")):
            want = set().union(*(getattr(h, attr) for h in self.done))
            got = VersionedParquetTable(self._table(t)).read(spark).agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct(id_col, "event_timestamp").alias("keys"),
                F.countDistinct("event_generated_id").alias("ids"),
                F.sum(F.crc32(F.concat_ws("|", id_col, F.unix_millis("event_timestamp").cast(
                    "string")))).alias("crc"),
            ).collect()[0].asDict()
            expect = {"rows": len(want), "keys": len(want), "ids": len(want),
                      "crc": key_checksum(want)}
            c.check(got == expect, f"{t}: warehouse {got} != expected {expect}")
        # One monitor row per hour (plus the replay), no tracebacks.
        ing = spark.read.parquet(str(self.lake / "monitor" / "ingestor_executions")).collect()
        hours = sorted(r["fetched_hour"] for r in ing)
        want_hours = sorted([h.start for h in self.done] + [self.replayed.start])
        c.check(hours == want_hours, f"ingestor monitor hours {len(hours)} != {len(want_hours)}")
        c.check(all(r["traceback"] is None for r in ing), "ingestor monitor has tracebacks")
        hnd = spark.read.parquet(str(self.lake / "monitor" / "handler_executions")).collect()
        c.check(len(hnd) == 2 * len(want_hours) and all(r["traceback"] is None for r in hnd),
                f"handler monitor rows {len(hnd)} != {2 * len(want_hours)}")

    def layer_metrics(self) -> dict[str, float]:
        staged = [self.bronze_rows(h) for h in self.done[1:]]
        lines = [h.lines for h in self.done[1:]]
        n = max(1, len(staged))
        return {
            "pipeline.ingestor.rows_staged": sum(staged) / n,
            "pipeline.ingestor.lines_dropped": (sum(lines) - sum(staged)) / n,
        }


# -- curation_dedup -----------------------------------------------------------------

#: The catalog query the workload serves: the composed curation funnel.
CURATION_QUERY = "ns_curation_funnel"


class CurationDedup:
    """Repeated passes of the catalog's composed curation funnel
    (``ns_curation_funnel``: ``pipeline.curation.curate_corpus`` over the
    ``documents`` table read by ``io.readers.load_table`` — language,
    Gopher rules, exact and MinHash-LSH near-dedup, decontamination against
    every 25th document) over a generated corpus with planted duplicates.
    The returned funnel is forced each pass; every stage before it is
    materialized inside the pass."""

    name = "curation_dedup"
    STAGES = ["normalize", "language_id", "quality_rules", "exact_dedup",
              "near_dedup", "decontaminate"]

    def __init__(self, work: Path, seed: int, seconds: int, tiny: bool) -> None:
        self.work, self.seed = work, seed
        self.n_docs = 300 if tiny else 2000
        # Passes run in set-up: the cold one, then two more.  After a cold
        # pass of ~21 s, the next two took 7.9-8.4 s and 7.6-7.7 s, and the
        # passes after them 5.4-7.3 s on a 4-core machine, so the measured
        # passes start on that plateau instead of the warming curve.
        self.warm_passes = 1 if tiny else 3
        self.sf_dir = str(work / "inputs" / "sf")
        self.checks = Checks()
        self.tracer = None
        self.funnels: list[dict[str, tuple[int, int]]] = []

    def generate(self) -> None:
        self.corpus = gen.gen_corpus(self.seed, Path(self.sf_dir), self.n_docs)

    def warm_up(self, spark) -> None:
        for _ in range(self.warm_passes):
            self.step(spark, -1)

    def step(self, spark, i: int) -> Sample:
        from door2door_etl_spark.queries.catalog import QUERIES

        fn = QUERIES[CURATION_QUERY].fn
        t0 = time.perf_counter()
        df = traced(self.tracer, "queries.build", lambda: fn(spark, self.sf_dir))
        t1 = time.perf_counter()
        rows = traced(self.tracer, "queries.serve", lambda: df.collect())
        t2 = time.perf_counter()
        self.funnels.append({r["stage"]: (r["docs_in"], r["docs_out"]) for r in rows})
        return Sample(op_s=t2 - t0, read_s=t2 - t1, items=self.corpus.n_docs)

    def expected(self) -> dict[str, int]:
        """docs_out per stage that the planted structure implies for the
        catalog's candidate set (every 25th document is the eval set)."""
        from door2door_etl_spark.queries.northstar_catalog import DECON_MOD

        kinds = self.corpus.kinds
        cand = [d for d in range(self.corpus.n_docs) if d % DECON_MOD != 0]
        quality = [d for d in cand if kinds[d] == "en"]
        return {
            "normalize": len(cand),
            "language_id": sum(1 for d in cand if kinds[d] != "de"),
            "quality_rules": len(quality),
            "exact_dedup": len({self.corpus.texts[d] for d in quality}),
        }

    def removal_bounds(self) -> dict[str, tuple[int, int]]:
        """Inclusive (low, high) bounds on the documents that near dedup
        and decontamination remove, from the planted structure.

        Near dedup can remove at most one document per extra distinct text
        of a planted near-duplicate family among the quality candidates
        (more means unrelated documents were merged), and must remove at
        least two thirds of them: MinHash-LSH (16 hashes, 4 bands) finds
        a pair of two-word edits with probability ~0.8, and connected
        components add the pairs it misses inside a family (recall was
        0.86-0.92 over eight seeds).  Decontamination removes exactly the
        surviving candidates that share a word 3-gram with the eval set;
        near dedup may already have removed those that sit in a planted
        family, so the bound is ``[contaminated - contaminated in
        families, contaminated]``."""
        from door2door_etl_spark.queries.northstar_catalog import DECON_MOD

        texts, kinds = self.corpus.texts, self.corpus.kinds
        quality = {d for d in range(self.corpus.n_docs)
                   if d % DECON_MOD != 0 and kinds[d] == "en"}
        family_texts = [{texts[d] for d in fam if d in quality}
                        for fam in self.corpus.near_families]
        planted = sum(max(0, len(f) - 1) for f in family_texts)
        in_family = set().union(*(f for f in family_texts if len(f) > 1))

        def grams(text: str) -> set[str]:
            w = text.split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        eval_grams = set().union(*(grams(texts[d]) for d in range(0, self.corpus.n_docs, DECON_MOD)))
        contaminated = {texts[d] for d in quality if grams(texts[d]) & eval_grams}
        return {"near_dedup": (-(-2 * planted // 3), planted),
                "decontaminate": (len(contaminated - in_family), len(contaminated))}

    def gate(self, spark) -> None:
        c = self.checks
        first = self.funnels[0]
        c.check(all(f == first for f in self.funnels), "funnel counts differ across passes")
        # docs_out of exact dedup equal to the number of distinct texts
        # means every planted exact duplicate was removed and nothing else.
        for stage, want in self.expected().items():
            have = first.get(stage, (None, None))[1]
            c.check(have == want, f"{stage}: docs_out {have} != {want}")
        outs = [first[s][1] for s in self.STAGES if s in first]
        c.check(len(outs) == len(self.STAGES) and outs == sorted(outs, reverse=True)
                and outs[-1] > 0, f"funnel not monotone or empty: {first}")
        if len(outs) != len(self.STAGES):
            return
        bounds = self.removal_bounds()
        near = first["exact_dedup"][1] - first["near_dedup"][1]
        lo, hi = bounds["near_dedup"]
        c.check(0 < lo <= near <= hi, f"near_dedup removed {near}, planted bounds [{lo}, {hi}]")
        decon = first["near_dedup"][1] - first["decontaminate"][1]
        lo, hi = bounds["decontaminate"]
        c.check(lo <= decon <= hi, f"decontaminate removed {decon}, bounds [{lo}, {hi}]")

    def layer_metrics(self) -> dict[str, float]:
        first = self.funnels[0]
        out = {f"pipeline.curation.docs_out.{s}": float(first.get(s, (0, 0))[1])
               for s in self.STAGES}
        pairs_df = self.tracer.last.get("operators.dedup.minhash_lsh_candidate_pairs")
        if pairs_df is not None:
            pairs = [(r[0], r[1]) for r in pairs_df.collect()]
            family = {d: k for k, fam in enumerate(self.corpus.near_families) for d in fam}
            planted = sum(1 for a, b in pairs if a in family and family[a] == family.get(b))
            out["operators.dedup.lsh_candidate_pairs"] = float(len(pairs))
            out["operators.dedup.lsh_pair_precision"] = planted / len(pairs) if pairs else 0.0
        return out


WORKLOADS = {w.name: w for w in (EtlHourly, CurationDedup)}
