"""Layer spans recorded from outside the package.

A :class:`Tracer` times each call into a layer, tags the Spark jobs it
runs with ``setJobGroup("layer:<name>")`` and, because the package's
operators return lazy DataFrames, forces each layer's output with an
eager ``localCheckpoint`` so the work is done (and charged) inside the
layer that defines it. Spans nest: a job is charged to the innermost
open span, and a span's self time excludes its children.

:func:`patched` swaps the public functions that ``run_linkage`` and the
dedup operators call for traced wrappers for the length of a ``with``
block, so the real pipeline runs unmodified with its layers visible.
Python-side UDF time comes from ``spark.sql.pyspark.udf.profiler=perf``:
at every span boundary the accumulated profiles are charged to the span
that was open and cleared.

With ``enabled=False`` every span is a no-op and nothing is patched.
"""

from __future__ import annotations

import importlib
import pstats
import shutil
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass
from pathlib import Path

OUTSIDE_GROUP = "bench"  # jobs outside any layer (inputs, checks)
ROWS_GROUP = "trace:rows"  # counts the tracer adds; excluded from layers


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, spark, enabled: bool, work_dir: Path) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.python_s: dict[str, float] = defaultdict(float)
        self.rows_out: dict[str, int] = defaultdict(int)
        self.rows_in: dict[str, int] = defaultdict(int)
        self.aux: dict[str, int] = defaultdict(int)
        self.write_bytes = 0
        self._profile_dir = work_dir / "udf-profile"
        self._after_form = False
        #: job-group prefix; "warmup" while set-up runs the traced code
        self.phase = "layer"
        if enabled:
            self.sc.setJobGroup(OUTSIDE_GROUP, OUTSIDE_GROUP)

    # -- spans --------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._charge_python()
        idx = len(self.spans)
        self.spans.append(Span(name, self._stack[-1] if self._stack else None, time.perf_counter()))
        self._stack.append(idx)
        self.sc.setJobGroup(f"{self.phase}:{name}", name)
        try:
            yield
        finally:
            self._charge_python()
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]].name if self._stack else None
            group = f"{self.phase}:{parent}" if parent else OUTSIDE_GROUP
            self.sc.setJobGroup(group, parent or OUTSIDE_GROUP)

    def _charge_python(self) -> None:
        """Charge the Python UDF time profiled since the last boundary
        to the innermost open span."""
        if not self._stack:
            self.spark.profile.clear(type="perf")
            return
        shutil.rmtree(self._profile_dir, ignore_errors=True)
        self.spark.profile.dump(str(self._profile_dir), type="perf")
        total = 0.0
        if self._profile_dir.is_dir():
            for p in self._profile_dir.glob("*.pstats"):
                total += pstats.Stats(str(p)).total_tt
        self.spark.profile.clear(type="perf")
        self.python_s[self.spans[self._stack[-1]].name] += total

    def count(self, df) -> int:
        """Row count charged to the tracer's own group, not a layer."""
        current = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(ROWS_GROUP, ROWS_GROUP)
        try:
            return df.count()
        finally:
            self.sc.setJobGroup(current or OUTSIDE_GROUP, current or OUTSIDE_GROUP)

    def record_rows(self, name: str, out, rows_in=None) -> None:
        """Add the row counts of a layer's output (and input) outside
        the layer's job group; nothing is counted with tracing off."""
        if not self.enabled:
            return
        self.rows_out[name] += self.count(out)
        if rows_in is not None:
            self.rows_in[name] += self.count(rows_in)

    def reset(self) -> None:
        """Forget the spans and counts recorded so far (after warm-up)."""
        self.spans.clear()
        for d in (self.python_s, self.rows_out, self.rows_in, self.aux):
            d.clear()
        self.write_bytes = 0
        self.phase = "layer"

    # -- per-layer wall/self time ---------------------------------------
    def wall_by_layer(self) -> tuple[dict[str, float], dict[str, float]]:
        """(inclusive, self) seconds per layer name, summed over spans."""
        wall: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            d = s.end - s.start
            wall[s.name] += d
            if s.parent is not None:
                child[s.parent] += d
        self_s: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            self_s[s.name] += (s.end - s.start) - child[i]
        return dict(wall), dict(self_s)


def _du(path: str) -> int:
    p = Path(path)
    if p.is_file():
        return p.stat().st_size
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


@contextmanager
def patched(tracer: Tracer):
    """Wrap the layer functions the package's pipelines look up at call
    time. No-op when tracing is off."""
    if not tracer.enabled:
        yield
        return
    from spinebasedrecordlinkage_jl_spark.operators import dedup, spine
    rl = importlib.import_module("spinebasedrecordlinkage_jl_spark.plans.run_linkage")

    def link_table(events, *args, **kwargs):
        name = "relink" if tracer._after_form else "probe"
        tracer._after_form = False
        with tracer.span(name):
            out = orig["link_table"](events, *args, **kwargs).localCheckpoint(eager=True)
        tracer.record_rows(name, out, rows_in=events)
        return out

    def form_entities(unlinked, *args, **kwargs):
        with tracer.span("form_entities"):
            new_spine, links = orig["form_entities"](unlinked, *args, **kwargs)
            new_spine = new_spine.localCheckpoint(eager=True)
        tracer.record_rows("form_entities", new_spine, rows_in=unlinked)
        tracer._after_form = True
        return new_spine, links

    def connected_components(edges, *args, **kwargs):
        with tracer.span("cc"):
            out = orig["connected_components"](edges, *args, **kwargs).localCheckpoint(eager=True)
        tracer.record_rows("cc", out)
        return out

    def write_table(df, path):
        with tracer.span("checkpoint"):
            orig["write_table"](df, path)
        tracer.write_bytes += _du(path)

    def read_table(spark, path):
        with tracer.span("checkpoint"):
            return orig["read_table"](spark, path)

    def stage_metrics(spine_df, links):
        with tracer.span("checkpoint"):
            return orig["stage_metrics"](spine_df, links)

    def lsh_jaccard_verified(df, *args, **kwargs):
        with tracer.span("lsh_pairs"):
            out = orig["lsh_jaccard_verified"](df, *args, **kwargs).localCheckpoint(eager=True)
        tracer.record_rows("lsh_pairs", out)
        return out

    def simhash_dedup(df, *args, **kwargs):
        with tracer.span("simhash_pairs"):
            out = orig["simhash_dedup"](df, *args, **kwargs).localCheckpoint(eager=True)
        tracer.record_rows("simhash_pairs", out, rows_in=df)
        return out

    targets = [
        (rl, "link_table", link_table),
        (rl, "form_entities", form_entities),
        (rl, "write_table", write_table),
        (rl, "read_table", read_table),
        (rl, "stage_metrics", stage_metrics),
        (spine, "connected_components", connected_components),
        (dedup, "lsh_jaccard_verified", lsh_jaccard_verified),
        (dedup, "simhash_dedup", simhash_dedup),
    ]
    orig = {name: getattr(mod, name) for mod, name, _ in targets}
    with ExitStack() as stack:
        for mod, name, wrapper in targets:
            setattr(mod, name, wrapper)
            stack.callback(setattr, mod, name, orig[name])
        yield
