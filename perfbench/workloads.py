"""The closed-loop workloads, driven through the engine's public API.

Each workload starts its own endpoint process in :meth:`Workload.setup`,
warms up, and then runs one timed operation per :meth:`Workload.op` call,
checking that operation's output against the generator.  ``op`` returns an
:class:`Outcome`; the timed region is the operation alone, never its check.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
import urllib.request
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.datasource import InputPartition
from pyspark.sql.types import StructType

import gen
from spans import Tracer
from stats import median

from flink_http_full_cache_connector_spark.operators.lookup_join import observed_lookup_join
from flink_http_full_cache_connector_spark.sources import datasource
from flink_http_full_cache_connector_spark.streaming.refresh import RefreshingLookupCache

HERE = Path(__file__).resolve().parent


@dataclass
class Outcome:
    """One timed operation: its wall time and whether its output passed
    the check."""

    wall_s: float
    ok: bool
    error: str = ""
    layers: dict[str, float] = field(default_factory=dict)


class EndpointProcess:
    """``endpoint.py`` in a child process; stopped by :meth:`close`."""

    def __init__(self, seed: int, rows: int, *, generations: int = 1, fail_every: int = 0):
        self.proc = subprocess.Popen(
            [
                sys.executable, str(HERE / "endpoint.py"),
                "--seed", str(seed), "--rows", str(rows),
                "--generations", str(generations), "--fail-every", str(fail_every),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            cwd=HERE,
        )
        self._base: str | None = None

    @property
    def base(self) -> str:
        """Server root; waits for the process to announce its port."""
        if self._base is None:
            line = self.proc.stdout.readline()
            if not line:
                self.close()
                raise RuntimeError("endpoint process exited before listening")
            self._base = f"http://127.0.0.1:{json.loads(line)['port']}"
        return self._base

    @property
    def url(self) -> str:
        return self.base + "/data"

    def stats(self) -> dict[str, int]:
        with urllib.request.urlopen(self.base + "/stats", timeout=30) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def lookup_options(url: str) -> dict[str, object]:
    return {"url": url, "xpath": gen.XPATH, "retry.delay.ms": 1}


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Base: subclasses set ``name`` and implement ``setup`` and ``op``."""

    name = ""
    #: warm-up operations run at the end of set-up
    warmup = 1

    def __init__(self, spark, seed: int, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.schema = StructType.fromDDL(gen.DIM_SCHEMA)
        self.endpoint: EndpointProcess | None = None
        self.cache: RefreshingLookupCache | None = None
        #: 1 once a traced operation's physical plan held a BroadcastHashJoin
        self.broadcast = 0

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        for _ in range(self.warmup):
            out = self.op(traced=False)
            if not out.ok:
                raise RuntimeError(f"{self.name} warm-up failed: {out.error}")

    def op(self, traced: bool) -> Outcome:
        raise NotImplementedError

    def http_counters(self) -> dict[str, int]:
        """Engine-side request counters (``RequestMetrics``) and reloads."""
        http = self.cache.stats.http
        return {
            "attempts": http.attempts,
            "retries": http.retries,
            "failures": http.failures,
            "reloads": self.cache.stats.fetch_count,
        }

    def final_checks(self) -> list[str]:
        """Whole-run checks; returns the failures."""
        return []

    def traced_extras(self) -> tuple[dict[str, float], list[str]]:
        """Per-layer metrics measured after the timed loop of a traced run,
        and the check failures met doing so."""
        return {}, []

    def close(self) -> None:
        if self.endpoint is not None:
            self.endpoint.close()
            self.endpoint = None


class DimLoad(Workload):
    """Forced refreshes of a 20k-record dimension; no probe side.

    The endpoint rotates 4 generations and answers 503 to every 10th GET,
    so each refresh must swap in exactly the generation it fetched and the
    retry path absorbs the failures.
    """

    name = "dim_load"
    rows = 20_000
    generations = 4
    fail_every = 10
    #: counted ``spark.read.format`` loads in a traced run
    datasource_loads = 3

    def setup(self) -> None:
        self.endpoint = EndpointProcess(
            self.seed, self.rows, generations=self.generations, fail_every=self.fail_every
        )
        self.expected = gen.summarize(gen.dimension_records(self.seed, self.rows))
        self.cache = RefreshingLookupCache(
            self.spark, lookup_options(self.endpoint.url), self.schema
        )
        self.warm()

    def op(self, traced: bool) -> Outcome:
        t0 = time.perf_counter()
        self.cache.check_and_reload(force=True)
        wall = time.perf_counter() - t0
        # the k-th successful GET serves generation (k - 1) % generations
        want_gen = (self.cache.stats.fetch_count - 1) % self.generations
        generation = F.col("score") - F.col("id") * 0.5
        got = self.cache.current().agg(
            F.count(F.lit(1)), F.sum("id"), F.sum(F.col("active").cast("int")),
            F.min(generation), F.max(generation),
        ).first()
        want = (self.expected.rows, self.expected.key_sum, self.expected.active, want_gen, want_gen)
        ok = tuple(got) == want
        return Outcome(wall, ok, "" if ok else f"snapshot {tuple(got)} != {want}")

    def final_checks(self) -> list[str]:
        injected = self.endpoint.stats()["injected_503"]
        retries = self.cache.stats.http.retries
        if retries != injected:
            return [f"http retries {retries} != injected 503s {injected}"]
        return []

    def traced_extras(self) -> tuple[dict[str, float], list[str]]:
        """The ``sources.datasource`` layer on this workload's payload:
        ``spark.read.format`` loads written to ``noop``, each followed by
        the same read driven in the driver.  The first load starts the
        Python workers and is not counted.  The endpoint still rotates
        generations and injects 503s, so only row count, key sum and
        ``active`` count are checked."""
        datasource.register(self.spark)
        loads, reads, errors = [], [], []
        for i in range(1 + self.datasource_loads):
            obs = Observation()
            df = (
                self.spark.read.format(datasource.FACTORY_IDENTIFIER)
                .schema(gen.DIM_SCHEMA)
                .option("url", self.endpoint.url)
                .option("xpath", gen.XPATH)
                .option("retry.delay.ms", 1)
                .load()
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("id").alias("key_sum"),
                    F.sum(F.col("active").cast("int")).alias("active"),
                )
            )
            t0 = time.perf_counter()
            noop_write(df)
            t1 = time.perf_counter()
            reader = datasource.HttpLookupDataSource(lookup_options(self.endpoint.url)).reader(
                self.schema
            )
            rows = list(reader.read(InputPartition(0)))
            t2 = time.perf_counter()
            got = obs.get
            have = (got["rows"], got["key_sum"], got["active"], len(rows))
            want = (self.expected.rows, self.expected.key_sum, self.expected.active, self.rows)
            if have != want:
                errors.append(f"datasource load {have} != {want}")
            if i:
                loads.append(t1 - t0)
                reads.append(t2 - t1)
        read_s = median(reads)
        return {"datasource.read_s": read_s, "datasource.transfer_s": median(loads) - read_s}, errors


class ProbeJoin(Workload):
    """Left lookup join of an 8M-row probe against a 10k-row snapshot."""

    name = "probe_join"
    dim_rows = 10_000
    probe_rows = 8_000_000
    #: several tasks per core, so one core slowed by another process does
    #: not hold back the whole stage
    partitions = 16
    #: the JIT keeps speeding the join up over the first joins
    warmup = 2

    def setup(self) -> None:
        self.endpoint = EndpointProcess(self.seed, self.dim_rows)
        self.cache = RefreshingLookupCache(
            self.spark, lookup_options(self.endpoint.url), self.schema
        )
        offset = gen.probe_offset(self.seed)
        self.expected_hits = gen.probe_hits(self.probe_rows, self.dim_rows, offset)
        self.probe = self.spark.range(0, self.probe_rows, 1, self.partitions).select(
            ((F.col("id") * gen.PROBE_MULT + offset) % (2 * self.dim_rows)).alias("id")
        )
        self.warm()

    def op(self, traced: bool) -> Outcome:
        obs = Observation()
        t0 = time.perf_counter()
        joined = observed_lookup_join(
            self.probe, self.cache.current(), on="id", how="left", observation=obs
        )
        with self.tracer.span("lookup_join"):
            noop_write(joined)
        wall = time.perf_counter() - t0
        got = obs.get
        ok = got["lookup_total"] == self.probe_rows and got["lookup_hits"] == self.expected_hits
        if traced and not self.broadcast:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            self.broadcast = int("BroadcastHashJoin" in plan)
        return Outcome(
            wall, ok,
            "" if ok else f"lookup metrics {got} != ({self.probe_rows}, {self.expected_hits})",
            {"probe_rows": got["lookup_total"], "hits": got["lookup_hits"]},
        )


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (DimLoad, ProbeJoin)}
