"""``versioned_rw``: reads, then a durable mutation batch and a major
compaction, over a versioned, tombstoned two-family table.

Set-up writes the seeded table through ``Admin.create_table`` and
``Admin.flush`` (``SETUP_REPS`` times) and snapshots the last copy.  An
unrecorded warm-up then runs each read kind once on that copy and
major-compacts the first, so that those measured ops do not carry
first-use costs (JIT, codegen, Python workers).  The mutate and the
flush are measured on their first call: set-up has already run the
flush path, and a warm-up write would cost about three times what it
takes off the measured ops.
Each cycle clones the snapshot (copy-on-write, no data copied), so
every cycle starts from the same table, and then runs, as one
closed-loop client:

- ``READS``: gets on uniform keys, a 100-key multi-get, 1,000-row
  scans (one under a ``SingleColumnValueFilter``) and a full snapshot
  followed by an ``operators.aggregations`` sum.  The table has several
  versions per column, all five cell types, a KEEP_DELETED_CELLS family
  and a TTL + MIN_VERSIONS family, so every read takes the general
  resolve path (``mask_deletes`` + ``cap_versions``).
- one ``mutate``: ``Table`` puts, deletes of all four kinds,
  increments and ``check_and_mutate`` from ``generators.mutation_batch``;
- one ``flush``: ``Admin.flush`` of the mutated table (which rewrites
  the whole table);
- one ``Admin.major_compact``.

The op order is fixed so every seed runs the same mix; keys, ranges
and batch contents are seeded.  ``READ_KINDS`` feed
``read_p50_gmean_ms`` and ``WRITE_KINDS`` ``write_p50_gmean_ms``.

Checks: every read against ``tests/spec.py``'s ``resolve_spec`` over the
generated cells (the snapshot sum against the spec's sum), and after
the flush and after the compaction, a seeded sample of rows read back
through a freshly opened ``Admin`` on the same catalog against the spec
over every cell written so far.
"""

from __future__ import annotations

import random
import time

from generators import (
    DELETE,
    DELETE_COLUMN,
    DELETE_FAMILY,
    DELETE_FAMILY_VERSION,
    FAMILIES,
    NOW,
    PUT,
    mutation_batch,
    row_key,
    versioned_cells,
)
from harness import dir_bytes_files
from metrics import median, tail
from oracle import Model, cell_bytes, keys_of
from tracing import covered

ROWS = 2_500
SCAN_ROWS = 1_000
MULTI_GET_KEYS = 100
READBACK_ROWS = 25
REGIONS = 4
SCVF = ("f1", "b", ">", "5")  # SingleColumnValueFilter guard
# check-and-mutate guard: f1:a's newest visible value < "5", a byte
# comparison of the decimal string; an absent column fails the guard
CAM_GUARD = dict(guard_family="f1", guard_qualifier="a", op="<", value="5")
DELETE_KINDS = (DELETE, DELETE_FAMILY_VERSION, DELETE_COLUMN, DELETE_FAMILY)
READS = ["get", "scan", "get", "scan_filtered", "get", "multi_get", "get", "snapshot"]


class VersionedRW:
    READ_KINDS = ("get", "multi_get", "scan", "scan_filtered", "snapshot")
    WRITE_KINDS = ("mutate", "flush", "compact")

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.cells = versioned_cells(run.seed, ROWS)
        self.rng = random.Random(f"mix:{run.seed}")
        self.cycles = 0
        self.user_bytes = 0
        self.written_bytes = 0

    def setup_once(self, rep: int) -> float:
        from hbase_spark import Admin, FamilyDescriptor, Table
        from hbase_spark.model import cell_schema

        if rep == 0:
            self.admin = Admin(self.spark, self.run.path("catalog"))
        families = {f: FamilyDescriptor(**kw) for f, kw in FAMILIES.items()}
        t0 = time.perf_counter()
        df = self.spark.createDataFrame(self.cells, cell_schema())
        self.admin.create_table(f"base{rep}", families)
        self.admin.flush(f"base{rep}", Table(df), num_regions=REGIONS)
        dt = time.perf_counter() - t0
        self.base = f"base{rep}"
        return dt

    def prepare(self) -> None:
        self.admin.snapshot("base", self.base)
        self.model = Model(self.cells)
        self.want_sum = sum(
            int(c["value"])
            for rk in self.model.rows
            for c in self.model.visible(rk)
            if c["family"] == "f1" and c["qualifier"] == "a"
        )
        self.visible_cells = sum(len(self.model.read_keys(rk)) for rk in self.model.rows)
        self.table_files = dir_bytes_files(self._data_dir(self.base))[1]
        # warm-up; reads leave the table as it is, and the first set-up
        # copy ("base0") is not used again
        self.table = self.admin.table(self.base, now=NOW)
        for kind in self.READ_KINDS:
            self._read_op(kind)
        self.admin.major_compact("base0", now=NOW, num_regions=REGIONS)

    def _data_dir(self, name: str) -> str:
        return self.run.path("catalog", self.admin.describe(name)["data_dir"])

    # -- reads -----------------------------------------------------------

    def _read(self, layer: str, build):
        run = self.run
        with run.span(f"operators.{layer}.build"):
            df = build()
        with run.span(f"operators.{layer}.plan"):
            df._jdf.queryExecution().executedPlan()
        with run.span(f"operators.{layer}.exec"):
            rows = [r.asDict() for r in df.collect()]
        return df, rows

    def _scan(self, filtered: bool):
        from hbase_spark import Scan
        from hbase_spark.filters.filters import SingleColumnValueFilter

        lo = self.rng.randrange(ROWS - SCAN_ROWS)
        spec = Scan(
            start_row=row_key(lo), stop_row=row_key(lo + SCAN_ROWS), versions=3,
            filter=SingleColumnValueFilter(*SCVF) if filtered else None,
        )
        want = [row_key(k) for k in range(lo, lo + SCAN_ROWS)]
        if filtered:
            want = [rk for rk in want if self._scvf_passes(rk)]
        return want, lambda: self._read("scan", lambda: self.table.scan(spec))

    def _read_op(self, kind: str) -> None:
        run = self.run
        if kind == "snapshot":
            _, total = run.op("snapshot", self._snapshot, plan_of=lambda o: o[0])
            run.check(total == self.want_sum, f"snapshot sum {total} != {self.want_sum}")
            return
        if kind == "get":
            key = row_key(self.rng.randrange(ROWS))
            want, fn = [key], lambda: self._read("get", lambda: self.table.get(key, versions=3))
        elif kind == "multi_get":
            want = sorted(row_key(i) for i in self.rng.sample(range(ROWS), MULTI_GET_KEYS))
            fn = lambda: self._read("get", lambda: self.table.multi_get(want, versions=3))  # noqa: E731
        else:
            want, fn = self._scan(kind == "scan_filtered")
        _, rows = run.op(kind, fn, plan_of=lambda o: o[0])
        run.ops[-1].extra["cells"] = len(rows)
        self._check_rows(want, rows, kind)

    def _snapshot(self):
        from hbase_spark.operators.aggregations import agg_sum

        run = self.run
        with run.span("operators.resolve.build"):
            visible = self.table.snapshot()
        with run.span("operators.resolve.plan"):
            visible._jdf.queryExecution().executedPlan()
        with run.span("operators.aggregations.exec"):
            total = agg_sum(visible, "f1", "a")
        return visible, total

    def _check_rows(self, wanted_rows, got_rows, what) -> None:
        """One check per op: every wanted row reads as the spec says and
        no other row comes back."""
        got = keys_of(got_rows)
        bad = [rk for rk in wanted_rows if got.pop(rk, set()) != self.model.read_keys(rk)]
        self.run.check(not bad and not got, f"{what}: rows {(bad + sorted(got))[:3]} differ")

    def _scvf_passes(self, rk: str) -> bool:
        fam, qual, _, bound = SCVF
        guard = [c for c in self.model.visible(rk) if c["family"] == fam and c["qualifier"] == qual]
        if not guard:
            return True  # filter_if_missing=False: rows without the column pass
        return max(guard, key=lambda c: (c["ts"], c["seq"]))["value"] > bound

    # -- writes ----------------------------------------------------------

    def _mutate(self, mb):
        """Open the table and apply the batch through the ``Table``
        methods; the mutated table, to flush."""
        from hbase_spark.model import CellType
        from hbase_spark.operators.mutations import make_cells

        run = self.run
        ts, s = mb.ts, mb.seq0
        with run.span("admin.table_open"):
            t = self.admin.table(self.name, now=NOW)
        with run.span("operators.mutations.build"):
            t = t.put(mb.puts, ts=ts, seq=s)
            for k, kind in enumerate(DELETE_KINDS, start=1):
                t = t.delete(mb.deletes[kind], ts=ts, seq=s + k, kind=kind)
            t = t.increment(mb.increments, ts=ts + 1, seq=s + 5)
            cam = make_cells(
                self.spark,
                [(rk, "f1", "c", ts + 2, CellType.PUT, mb.cam_value, s + 6) for rk in mb.cam_rows],
            )
            return t.check_and_mutate(cam, **CAM_GUARD)

    def _flush(self, table) -> None:
        with self.run.span("admin.flush"):
            self.admin.flush(self.name, table, num_regions=REGIONS)

    def _apply_to_model(self, mb) -> list[tuple]:
        """Follow a flushed batch in the model; the cells it wrote."""
        ts, s = mb.ts, mb.seq0
        cells = [(r, f, q, ts, PUT, v, s) for r, f, q, v in mb.puts]
        for k, kind in enumerate(DELETE_KINDS, start=1):
            cells += [(r, f, q, ts, kind, None, s + k) for r, f, q in mb.deletes[kind]]
        self.model.add(cells)
        incs = []
        for r, f, q, d in mb.increments:
            cur = self.model.current(r, f, q)
            incs.append((r, f, q, ts + 1, PUT, str((int(cur) if cur is not None else 0) + d), s + 5))
        self.model.add(incs)
        cams = []
        for r in mb.cam_rows:
            cur = self.model.current(r, "f1", "a")
            if cur is not None and cur < CAM_GUARD["value"]:
                cams.append((r, "f1", "c", ts + 2, PUT, mb.cam_value, s + 6))
        self.model.add(cams)
        return cells + incs + cams

    def _compact(self) -> None:
        with self.run.span("admin.major_compact"):
            self.admin.major_compact(self.name, now=NOW, num_regions=REGIONS)

    def _readback(self, rows: list[str], what: str) -> None:
        from hbase_spark import Admin

        run = self.run
        with run.span("check.readback"):
            fresh = Admin(self.spark, self.run.path("catalog"))
            with run.span("admin.table_open"):
                t = fresh.table(self.name, now=NOW)
            got = keys_of(r.asDict() for r in t.multi_get(rows, versions=3).collect())
        bad = [rk for rk in rows if got.get(rk, set()) != self.model.read_keys(rk)]
        run.check(not bad, f"{what}: rows {bad[:3]} differ")

    # -- the cycle -------------------------------------------------------

    def step(self) -> None:
        run = self.run
        self.name = f"rw{self.cycles}"
        self.admin.clone_snapshot("base", self.name)
        mb = mutation_batch(run.seed, self.cycles, ROWS)
        self.cycles += 1
        self.model = Model(self.cells)
        with run.span("admin.table_open"):
            self.table = self.admin.table(self.name, now=NOW)
        for kind in READS:
            self._read_op(kind)

        mutated = run.op("mutate", lambda: self._mutate(mb))
        run.op("flush", lambda: self._flush(mutated))
        rec = run.ops[-1]
        written = self._apply_to_model(mb)
        rec.extra["cells"] = len(written)
        rec.extra["bytes"], rec.extra["files"] = dir_bytes_files(self._data_dir(self.name))
        self.user_bytes += sum(cell_bytes(c) for c in written)
        self.written_bytes += rec.extra["bytes"]
        touched = mb.touched_rows()
        self._readback(sorted(self.rng.sample(touched, READBACK_ROWS)), f"batch {mb.ts}")

        run.op("compact", self._compact)
        rec = run.ops[-1]
        rec.extra["bytes"], rec.extra["files"] = dir_bytes_files(self._data_dir(self.name))
        self.written_bytes += rec.extra["bytes"]
        sample = sorted(row_key(k) for k in self.rng.sample(range(ROWS), READBACK_ROWS))
        self._readback(sample, "after compaction")

    # -- per-layer -------------------------------------------------------

    def layers(self) -> dict:
        run = self.run
        tr = run.ops
        out = {}
        for layer, kinds in (("get", ("get", "multi_get")), ("scan", ("scan", "scan_filtered"))):
            ops = [o for o in tr if o.kind in kinds]
            n = max(len(ops), 1)
            returned = max(sum(o.extra["cells"] for o in ops), 1)
            for phase in ("build", "plan", "exec"):
                out[f"operators.{layer}.{phase}_ms"] = 1e3 * median(
                    run.tracer.durations(f"operators.{layer}.{phase}")
                )
            out[f"operators.{layer}.files_read_per_op"] = sum(o.extra["shape"].files_read for o in ops) / n
            out[f"operators.{layer}.bytes_read_per_op"] = sum(o.stats.input_bytes for o in ops) / n
            out[f"operators.{layer}.rows_scanned_per_row_returned"] = (
                sum(o.stats.input_records for o in ops) / returned
            )
        flt = [o for o in tr if o.kind == "scan_filtered"]
        out["filters.rows_examined_per_row_returned"] = sum(
            o.stats.input_records for o in flt
        ) / max(sum(o.extra["cells"] for o in flt), 1)

        snaps = [o for o in tr if o.kind == "snapshot"]
        for phase in ("build", "plan"):
            out[f"operators.resolve.{phase}_ms"] = 1e3 * median(
                run.tracer.durations(f"operators.resolve.{phase}")
            )
        if snaps:
            # the resolved frame only ever executes under the aggregation:
            # resolve's exec time is the time a stage of that op ran
            out["operators.resolve.exec_ms"] = 1e3 * median(
                covered(o.stats.intervals, float("-inf"), float("inf")) for o in snaps
            )
            for f in ("exchanges", "sorts", "joins"):
                out[f"operators.resolve.{f}"] = median(getattr(o.extra["shape"], f) for o in snaps)
            out["operators.resolve.shuffle_bytes"] = median(o.stats.shuffle_write_bytes for o in snaps)
            out["operators.aggregations.jobs"] = median(o.stats.jobs for o in snaps)
        out["operators.resolve.cells_in_per_cell_out"] = len(self.cells) / max(self.visible_cells, 1)
        out["operators.aggregations.exec_ms"] = 1e3 * median(
            run.tracer.durations("operators.aggregations.exec")
        )

        gets = run.kind_seconds("get")
        scans = run.kind_seconds("scan") + run.kind_seconds("scan_filtered")
        out["table.get_p50_ms"] = 1e3 * median(gets)
        out["table.get_tail_ms"] = 1e3 * tail(gets)[1]
        out["table.multi_get_p50_ms"] = 1e3 * median(run.kind_seconds("multi_get"))
        out["table.scan_p50_ms"] = 1e3 * median(scans)
        out["table.scan_tail_ms"] = 1e3 * tail(scans)[1]
        out["table.snapshot_p50_s"] = median(run.kind_seconds("snapshot"))
        out["admin.table_files"] = self.table_files

        mutates = [o for o in run.ops if o.kind == "mutate"]
        flushes = [o for o in run.ops if o.kind == "flush"]
        compacts = [o for o in run.ops if o.kind == "compact"]
        live = sum(
            cell_bytes((c["row"], c["family"], c["qualifier"], 0, 0, c["value"], 0))
            for rk in self.model.rows
            for c in self.model.visible(rk)
        )
        out.update({
            "table.write_cells_per_s": (
                sum(o.extra["cells"] for o in flushes) / sum(o.seconds for o in mutates + flushes)
            ),
            "admin.write_amp": self.written_bytes / max(self.user_bytes, 1),
            "admin.space_amp": dir_bytes_files(self._data_dir(self.name))[0] / max(live, 1),
            "admin.table_open_ms": 1e3 * median(run.tracer.durations("admin.table_open")),
            "admin.flush_ms": 1e3 * median(run.tracer.durations("admin.flush")),
            "admin.flush_bytes_written": median(o.extra["bytes"] for o in flushes),
            "admin.flush_files_written": median(o.extra["files"] for o in flushes),
            "admin.compact_ms": 1e3 * median(run.tracer.durations("admin.major_compact")),
            "admin.compact_bytes_rewritten": median(o.extra["bytes"] for o in compacts),
            "operators.mutations.build_ms": 1e3 * median(run.tracer.durations("operators.mutations.build")),
            # the mutations are built lazily and run inside the flush's jobs
            "operators.mutations.shuffle_bytes": median(
                m.stats.shuffle_write_bytes + f.stats.shuffle_write_bytes
                for m, f in zip(mutates, flushes)
            ),
        })
        return out
