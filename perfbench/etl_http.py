"""Workload ``etl_http``: the reference's own traffic over HTTP.

Generated shift-days are served by ``ShiftsApiServer``; the client sends
``POST /run-etl?batch_size=7`` to ``EtlControlServer`` one job at a time and
``POST /clear-data`` between jobs, outside the timed window. Every job's
returned table counts and the six KPI rows it persisted are checked against
values computed here, in plain Python, from the generated docs.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.request
from decimal import ROUND_HALF_UP, Decimal

DAYS = 14  # shift-days served: 2 pages of 7
PAGE_SIZE = 7
START = dt.date(2023, 1, 1)


def _dec(x, places: str) -> Decimal:
    return Decimal(repr(float(x))).quantize(Decimal(places), ROUND_HALF_UP)


def expected_kpis(docs: list[dict], anchor: dt.date) -> dict[str, Decimal]:
    """The six KPIs of the reference, computed from the raw docs."""
    breaks = [b for d in docs for b in d["breaks"]]
    secs = [b["finish"] // 1000 - b["start"] // 1000 for b in breaks]
    mean_break = (sum(secs) / len(secs)) / 60.0 if secs else 0.0

    costs = []
    for d in docs:
        a = 0.0
        for x in d["allowances"]:
            a += x["cost"]
        w = 0.0
        for x in d["award_interpretations"]:
            w += x["cost"]
        costs.append(_dec(a + w, "0.0001"))
    mean_cost = (
        float((sum(costs) / len(costs)).quantize(Decimal("0.00000001"), ROUND_HALF_UP))
        if costs
        else 0.0
    )

    cutoff = (anchor - dt.timedelta(days=14)).isoformat()
    recent = [
        _dec(x["cost"], "0.0001")
        for d in docs
        if d["date"] >= cutoff
        for x in d["allowances"]
    ]
    max_allowance = float(max(recent)) if recent else 0.0

    # gaps and islands over shifts LEFT JOIN breaks, one running break count
    # per date: every break starts a new island, which also holds its day
    per_date: dict[str, list[int]] = {}
    for d in docs:
        f_n = per_date.setdefault(d["date"], [0, 0])
        f_n[0] += len(d["breaks"])
        f_n[1] += max(1, len(d["breaks"]))
    grp, islands = 0, {}
    for date in sorted(per_date):
        f, n = per_date[date]
        grp += f
        islands[grp] = islands.get(grp, 0) + n
    longest = max((n - (0 if g == 0 else 1) for g, n in islands.items()), default=0)

    hours = [(d["finish"] // 1000 - d["start"] // 1000) / 3600.0 for d in docs]
    paid = sum(1 for b in breaks if b["paid"])
    values = {
        "mean_break_length_in_minutes": mean_break,
        "mean_shift_cost": mean_cost,
        "max_allowance_cost_14d": max_allowance,
        "max_break_free_shift_period_in_days": float(longest),
        "min_shift_length_in_hours": min(hours) if hours else 0.0,
        "total_number_of_paid_breaks": float(paid),
    }
    return {k: _dec(v, "0.01") for k, v in values.items()}


def _post(url: str) -> tuple[int, dict]:
    req = urllib.request.Request(url, data=b"", method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


class Workload:
    seeded = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.out = ctx.work / "etl_out"
        self.anchor = START + dt.timedelta(days=DAYS - 1)
        self.api = None
        self.control = None

    def prepare_inputs(self) -> None:
        from shifts_etl_spark.sources.generator import generate_shift_docs

        self.docs = generate_shift_docs(days=DAYS, seed=self.ctx.seed, start_date=START)
        self.expected_counts = {
            "shifts": len(self.docs),
            "breaks": sum(len(d["breaks"]) for d in self.docs),
            "allowances": sum(len(d["allowances"]) for d in self.docs),
            "award_interpretations": sum(len(d["award_interpretations"]) for d in self.docs),
            "kpis": 6,
        }
        self.expected_kpis = expected_kpis(self.docs, self.anchor)

    def start(self, spark) -> None:
        from shifts_etl_spark.control import EtlControlServer
        from shifts_etl_spark.sources.http_service import ShiftsApiServer

        self.spark = spark
        self.api = ShiftsApiServer(self.docs, default_limit=PAGE_SIZE)
        api_url = self.api.start()
        fetch = None
        if self.ctx.tracer is not None:
            fetch = self.ctx.tracer.wrap("sources.fetch", _fetch, spark_work=False)
            self._patch_layers(self.ctx.tracer)
        self.control = EtlControlServer(
            spark, api_url, str(self.out), anchor_date=self.anchor, fetch=fetch
        )
        self.url = self.control.start()

    @staticmethod
    def _patch_layers(tracer) -> None:
        from shifts_etl_spark.operators import flatten, kpi, quality
        from shifts_etl_spark.sinks.staged import StagedWriter
        from shifts_etl_spark.sources import pages

        tracer.patch(pages, "docs_from_pages", "sources.docs_from_pages")
        tracer.patch(flatten, "flatten_all", "flatten.flatten_all")
        tracer.patch(quality, "validate_tables", "quality.validate_tables")
        tracer.patch(StagedWriter, "write_batch", "staged.write_batch")
        tracer.patch(StagedWriter, "read_table", "staged.read_table")
        tracer.patch(kpi, "compute_kpis", "kpi.compute_kpis")

    def run_job(self) -> tuple[float, dict]:
        status, body = _post(f"{self.url}/clear-data")
        if status != 200:
            raise RuntimeError(f"clear-data returned {status}: {body}")
        tracer = self.ctx.tracer
        root = tracer.open("control.run_etl") if tracer and tracer.enabled else None
        t0 = time.perf_counter()
        try:
            status, body = _post(f"{self.url}/run-etl?batch_size={PAGE_SIZE}")
        finally:
            elapsed = time.perf_counter() - t0
            if root is not None:
                tracer.close(root)
        if status != 200:
            raise RuntimeError(f"run-etl returned {status}: {body}")
        return elapsed, body

    def check_job(self, body: dict) -> bool:
        from shifts_etl_spark.sinks.staged import StagedWriter

        if body.get("counts") != self.expected_counts:
            self.ctx.log(f"counts {body.get('counts')} != {self.expected_counts}")
            return False
        rows = StagedWriter(self.out).read_table(self.spark, "kpis").collect()
        got = {r["kpi_name"]: r["kpi_value"] for r in rows}
        if got != self.expected_kpis or any(r["kpi_date"] != self.anchor for r in rows):
            self.ctx.log(f"kpis {got} != {self.expected_kpis}")
            return False
        return True

    def layer_metrics(self, measured: dict[str, float]) -> dict[str, float]:
        return {"sources.pages": measured.get("sources.fetch.calls", 0.0)}

    def stop(self) -> None:
        for server in (self.control, self.api):
            if server is not None:
                server.stop()


def _fetch(url: str) -> dict | None:
    """The HTTP page fetch ``sources.pages.iter_http_pages`` does by default,
    as a hook a span can wrap."""
    try:
        with urllib.request.urlopen(url) as r:
            return json.loads(r.read())
    except (OSError, ValueError):
        return None
