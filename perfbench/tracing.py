"""Spans around the calls the benchmark makes into each engine layer.

A traced run records one span per call at three kinds of boundary:

- the operation itself (``op.<kind>``), opened by the benchmark;
- the engine's entry points (``index.*`` module functions the benchmark
  calls, ``reader.*`` methods wrapped on the ``IndexReader`` instance,
  so the engine's own ``self.lookup_terms(...)`` calls are seen too);
- the third-party calls the engine makes on the driver: pyarrow
  dataset scans (``pyarrow.scan``), ``SparkSession.createDataFrame``
  (``spark.createDataFrame``) and ``DataFrame.collect``
  (``spark.collect``).

Spark job, stage and task counts come from the status tracker under a
job group set per operation. Spans stay in memory until the run ends.
A span's self time is its duration minus the time its children cover;
per operation, the self times of all its spans sum to its wall time.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.dataset as pads

#: IndexReader methods wrapped on the instance (public API only)
READER_METHODS = (
    "lookup_terms", "search", "search_serve", "search_many",
    "search_many_local", "facet_stats", "build_metrics", "cache",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class _TracedDataset:
    """Forwards to a pyarrow dataset; records each ``to_table`` scan."""

    def __init__(self, dataset, tracer: "Tracer"):
        self._dataset = dataset
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._dataset, name)

    def to_table(self, *args, **kwargs):
        tracer = self._tracer
        if not tracer.recording:
            return self._dataset.to_table(*args, **kwargs)
        with tracer.span("pyarrow.scan") as sp:
            table = self._dataset.to_table(*args, **kwargs)
        sp.attrs["rows"] = table.num_rows
        tracer._scans.append(
            (sp, self._dataset, kwargs.get("columns"), kwargs.get("filter"))
        )
        return table


def scan_footprint(dataset, columns, flt) -> tuple[int, int]:
    """(files, on-disk bytes) a filtered scan must read: the files and
    row groups whose parquet statistics admit ``flt``, and the
    compressed size of the projected columns in those row groups."""
    files = nbytes = 0
    for frag in dataset.get_fragments(filter=flt):
        sub = frag.subset(filter=flt) if flt is not None else frag
        row_groups = sub.row_groups
        if not row_groups:
            continue
        files += 1
        meta = sub.metadata
        for rg in row_groups:
            rgm = meta.row_group(rg.id)
            for i in range(rgm.num_columns):
                col = rgm.column(i)
                top = col.path_in_schema.split(".")[0]
                if columns is None or top in columns:
                    nbytes += col.total_compressed_size
    return files, nbytes


class Tracer:
    """Span recorder. Disabled tracers cost one attribute test per call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._scans: list = []
        self._patches: list = []
        self._n_ops = 0
        self._last_root: Span | None = None

    @property
    def recording(self) -> bool:
        return bool(self._stack)

    @contextmanager
    def span(self, name: str):
        """A child of the innermost open span; only while recording."""
        parent = self._stack[-1]
        sp = Span(name, time.perf_counter(), parent=parent,
                  op=self.spans[parent].op)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """Root span of one operation, with its Spark jobs counted."""
        self._last_root = None
        if not (self.enabled and traced):
            yield None
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{self._n_ops}"
        sc.setJobGroup(group, kind)
        root = Span(f"op.{kind}", 0.0, op=len(self.spans))
        root.attrs["kind"] = kind
        self.spans.append(root)
        self._stack.append(root.op)
        self._last_root = root
        root.start = time.perf_counter()
        try:
            yield root
        finally:
            root.end = time.perf_counter()
            self._stack.pop()
            self._n_ops += 1
            sc.setLocalProperty("spark.jobGroup.id", None)
            root.attrs.update(self._job_counts(group))
            for sp, dataset, columns, flt in self._scans:
                sp.attrs["files"], sp.attrs["bytes"] = scan_footprint(
                    dataset, columns, flt)
            self._scans.clear()

    def annotate(self, **attrs) -> None:
        """Attach attributes to the last operation, if it was traced."""
        if self._last_root is not None:
            self._last_root.attrs.update(attrs)

    def _job_counts(self, group: str) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"spark_jobs": jobs, "spark_tasks": tasks,
                "spark_tasks_failed": failed}

    # -- patches ---------------------------------------------------------
    def _wrap(self, fn, name, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(sp, out)
            return out

        return traced

    def entry(self, fn):
        """An engine module function, recorded as ``index.<name>``."""
        return self._wrap(fn, f"index.{fn.__name__}") if self.enabled else fn

    def install(self) -> None:
        """Patch the third-party boundaries for the rest of the run."""
        if not self.enabled:
            return
        df_cls = type(self.spark.range(0))
        sess_cls = type(self.spark)
        real_dataset = pads.dataset

        def dataset(*args, **kwargs):
            return _TracedDataset(real_dataset(*args, **kwargs), self)

        for owner, attr, new in (
            (df_cls, "collect", self._wrap(df_cls.collect, "spark.collect")),
            (sess_cls, "createDataFrame",
             self._wrap(sess_cls.createDataFrame, "spark.createDataFrame")),
            (pads, "dataset", dataset),
        ):
            self._patches.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def wrap_reader(self, reader):
        """Wrap the public reader methods on this instance."""
        if not self.enabled:
            return reader

        def resolved(sp, out):
            sp.attrs["terms"] = len(out)
            sp.attrs["df_sum"] = int(sum(v[0] for v in out.values()))

        for name in READER_METHODS:
            if hasattr(reader, name):
                setattr(reader, name, self._wrap(
                    getattr(reader, name), f"reader.{name}",
                    resolved if name == "lookup_terms" else None))
        return reader

    # -- analysis --------------------------------------------------------
    def ops(self, kind: str) -> list[dict]:
        """Per traced op of ``kind``: wall time, self time by span name,
        total duration by span name, root attrs and child spans."""
        children: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent >= 0:
                children.setdefault(sp.parent, []).append(i)
        by_op: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            by_op.setdefault(sp.op, []).append(i)
        out = []
        for root_i, members in by_op.items():
            root = self.spans[root_i]
            if root.attrs.get("kind") != kind:
                continue
            self_s: dict[str, float] = {}
            total_s: dict[str, float] = {}
            for i in members:
                sp = self.spans[i]
                own = sp.dur - sum(self.spans[c].dur
                                   for c in children.get(i, []))
                self_s[sp.name] = self_s.get(sp.name, 0.0) + own
                total_s[sp.name] = total_s.get(sp.name, 0.0) + sp.dur
            out.append({
                "wall": root.dur,
                "self": self_s,
                "total": total_s,
                "attrs": root.attrs,
                "spans": [self.spans[i] for i in members if i != root_i],
                "root_children": [self.spans[c]
                                  for c in children.get(root_i, [])],
            })
        return out

    def closure(self) -> dict:
        """Per op kind: wall time, self time by layer and the remainder
        (the benchmark's own time inside the op); they sum to wall."""
        kinds = sorted({sp.attrs["kind"] for sp in self.spans
                        if sp.parent < 0 and "kind" in sp.attrs})
        table = {}
        for kind in kinds:
            ops = self.ops(kind)
            layers: dict[str, float] = {}
            for o in ops:
                for name, s in o["self"].items():
                    if not name.startswith("op."):
                        layers[name] = layers.get(name, 0.0) + s
            wall = sum(o["wall"] for o in ops)
            remainder = sum(o["self"][f"op.{kind}"] for o in ops)
            table[kind] = {
                "ops": len(ops),
                "wall_s": wall,
                "layers_self_s": layers,
                "remainder_s": remainder,
                "sum_s": remainder + sum(layers.values()),
            }
        return table

    def dump(self) -> list[dict]:
        return [
            {"name": sp.name, "start": sp.start, "end": sp.end,
             "parent": sp.parent, "op": sp.op,
             "attrs": {k: v for k, v in sp.attrs.items()
                       if isinstance(v, (int, float, str))}}
            for sp in self.spans
        ]
