"""The keyed-table lifecycle, driven through the program's public API.

Three streams of timed operations, each a generator that does one
operation per ``next()``:

* ``boot_steps``: ledgered ``engine.bootstrap`` of the events source
  into a COW table of its own (validate + reconcile included), then
  damage (drop one partition, truncate another) and repair with
  ``resume=True``, round after round;
* ``cow_steps``: the generated COW commit stream through
  ``TableServices`` (upsert, delete, partial upsert, merge); after every
  fourth commit the indexes are refreshed and every key batch is
  looked up through the record index, one a turn;
* ``mor_steps``: the MOR commit stream (upserts, every fourth a delete);
  after each commit the snapshot is read and ``compact_if_needed`` folds
  the commit's log into the base files, and after every second one a CDC
  read covers the commit.

A run stops each stream once its operations have their ``QUOTA`` of
samples: one COW commit of every kind and MOR commits up to the first
delete, so every run times and checks the same commit paths. The
commit streams run on two tables bootstrapped once in the warm-up
(:meth:`warm_cow`, :meth:`warm_mor`), so their state (and the MOR log)
carries over from commit to commit. Outputs are recorded during
the run and checked against :mod:`model` afterwards, outside every
timing.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pyarrow.parquet as pq

import model
from datagen import COW_KINDS, LOOKUP_BATCHES, MOR_DELETE_EVERY, LifecyclePlan

COW_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate", "ship_month"]
MOR_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props", "event_week"]
CDC_EVERY = 2  # MOR commits between two CDC reads
LOOKUP_EVERY = len(COW_KINDS)  # COW commits between two refresh_indexes + lookups
# compact_if_needed policy: fold the log whenever it holds anything, so
# a compaction follows every MOR commit and each one folds one commit
MAX_LOG_RATIO = 0.0
# samples of each timed operation a run takes: a stream stops once all
# of its operations have their quota, so every run's medians come from
# the same operations in the same states
QUOTA = {"bootstrap": 1, "resume": 1,
         "cow_commit": len(COW_KINDS), "lookup": LOOKUP_BATCHES,
         "mor_commit": MOR_DELETE_EVERY, "cdc_read": MOR_DELETE_EVERY // CDC_EVERY,
         "snapshot_read": MOR_DELETE_EVERY, "compact": MOR_DELETE_EVERY}
STREAM_OPS = {"boot": ("bootstrap", "resume"), "cow": ("cow_commit", "lookup"),
              "mor": ("mor_commit", "cdc_read", "snapshot_read", "compact")}


def _tree_bytes(root: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def _parquet_files(root: str) -> dict[str, tuple[int, int]]:
    """Data file → (size, mtime) under *root*, metadata dirs excluded."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _materialise(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Lifecycle:
    def __init__(self, spark, tracer, work: str, plan: LifecyclePlan, samples: dict):
        from hudi_utility_spark.api import Engine, TableServices
        from hudi_utility_spark.queries import scratch_base
        from hudi_utility_spark.validate import BootstrapRequest

        self.spark, self.tracer, self.plan, self.samples = spark, tracer, plan, samples
        self.engine = Engine(spark, os.path.join(work, "ledger"))
        # on the medium the query layer's scratch uses
        tables = os.path.join(scratch_base(), "lifecycle")

        def events_request(name: str, table_type: str) -> BootstrapRequest:
            return BootstrapRequest(
                data_file_path=plan.mor_source, table_name=name,
                record_key=list(model.MOR_KEY), precombine="ts",
                output_path=os.path.join(tables, name), partition_fields=["event_week"],
                table_type=table_type)

        self.boot_req = events_request("events_boot", "COPY_ON_WRITE")
        self.mor_req = events_request("events", "MERGE_ON_READ")
        self.cow_req = BootstrapRequest(
            data_file_path=plan.cow_source, table_name="lineitem",
            record_key=list(model.COW_KEY), precombine="l_shipdate",
            output_path=os.path.join(tables, "lineitem"), partition_fields=["ship_month"])
        self.cow = TableServices(self.engine, self.cow_req.to_table())
        self.mor = TableServices(self.engine, self.mor_req.to_table())
        self.records: list[dict] = []  # outputs to check, in op order
        self.applied = {"cow": 0, "mor": 0}  # commits applied per stream
        self.lookups_done = 0
        self.layer: dict[str, list[float]] = {}
        self.streams = {"boot": self.boot_steps(), "cow": self.cow_steps(),
                        "mor": self.mor_steps()}

    def _timed(self, metric: str, fn):
        with self.tracer.span(metric) as s:
            out = fn()
        self.samples.setdefault(metric, []).append(s.end - s.start)
        return out

    def _note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def missing(self, stream: str) -> bool:
        """Some operation of *stream* has fewer samples than its quota."""
        return any(len(self.samples.get(k, ())) < QUOTA[k] for k in STREAM_OPS[stream])

    # Warm-up, untimed and on threads of their own: bootstrap the two
    # commit-stream tables (and index the COW one). The streams' first
    # operations run in the window, so each run's samples include the
    # same first-call costs.

    def warm_cow(self) -> None:
        from hudi_utility_spark import index

        shutil.rmtree(self.cow_req.output_path, ignore_errors=True)
        self.engine.bootstrap(self.cow_req)
        index.build_record_index(self.spark, self.cow.table)

    def warm_mor(self) -> None:
        shutil.rmtree(self.mor_req.output_path, ignore_errors=True)
        self.engine.bootstrap(self.mor_req)

    # -- bootstrap and repair ----------------------------------------------------

    def _damage(self, root: str) -> set[str]:
        drop, trunc = self.plan.damage["drop"], self.plan.damage["truncate"]
        shutil.rmtree(os.path.join(root, f"event_week={drop}"))
        tdir = os.path.join(root, f"event_week={trunc}")
        for f in sorted(os.listdir(tdir)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(tdir, f))
                pq.write_table(t.slice(0, t.num_rows // 2), os.path.join(tdir, f))
                crc = os.path.join(tdir, f".{f}.crc")  # Hadoop's checksum sidecar
                if os.path.exists(crc):
                    os.remove(crc)
                break
        self.spark.catalog.refreshByPath(root)
        return {drop, trunc}

    def boot_steps(self):
        req = self.boot_req
        while True:
            shutil.rmtree(req.output_path, ignore_errors=True)
            self._timed("bootstrap", lambda: self.engine.bootstrap(req))
            yield
            damaged = self._damage(req.output_path)
            req.resume = True
            try:
                out = self._timed("resume", lambda: self.engine.bootstrap(req))
            finally:
                req.resume = False
            repaired = set(out.get("repaired_partitions", []))
            self.records.append({"what": "resume", "damaged": sorted(damaged),
                                 "repaired": sorted(repaired)})
            if repaired:
                self._note("repair.damaged_over_rewritten", len(damaged & repaired) / len(repaired))
            yield

    # -- COW commit stream ---------------------------------------------------------

    def _lookup(self) -> None:
        """Point lookup of the next seeded key batch through the record
        index, after the COW commits applied so far."""
        from hudi_utility_spark import index

        table = self.cow.table
        keys_path = self.plan.lookups[self.lookups_done % len(self.plan.lookups)]
        self.lookups_done += 1
        keys = self.spark.read.parquet(keys_path)
        rows = self._timed("lookup", lambda: index.point_lookup(self.spark, table, keys).toPandas())
        self.records.append({"what": "lookup", "op": self.applied["cow"] - 1,
                             "keys": keys_path, "rows": rows})

    def _commit(self, svc, metric: str, op: dict) -> None:
        df = self.spark.read.parquet(op["path"])
        kind, instant = op["kind"], op["instant"]
        if kind == "upsert":
            self._timed(metric, lambda: svc.upsert(df, commit_time=instant))
        elif kind == "upsert_partial":
            self._timed(metric, lambda: svc.upsert_partial(df, commit_time=instant))
        elif kind == "delete":
            self._timed(metric, lambda: svc.delete(df, commit_time=instant))
        else:
            self._timed(metric, lambda: svc.merge(
                df, update_set={"l_quantity": "s.l_quantity", "l_shipdate": "s.l_shipdate"},
                delete_condition=f"s.l_quantity > {model.MERGE_DELETE_ABOVE}",
                commit_time=instant))

    def cow_steps(self):
        svc = self.cow
        for op in self.plan.cow_ops:
            traced = self.tracer.enabled
            before = _parquet_files(svc.table.path) if traced else {}
            self._commit(svc, "cow_commit", op)
            self.applied["cow"] += 1
            if traced:
                after = _parquet_files(svc.table.path)
                new = [f for f, v in after.items() if before.get(f) != v]
                self._note("write.files_written", float(len(new)))
                self._note("write.partitions_rewritten",
                           float(len({os.path.dirname(f) for f in new})))
                self._note("write.bytes_written_per_user_byte",
                           sum(after[f][0] for f in new) / os.path.getsize(op["path"]))
            yield
            if self.applied["cow"] % LOOKUP_EVERY == 0:
                self._refresh()
                for _ in range(LOOKUP_BATCHES):
                    self._lookup()
                    yield

    def _refresh(self) -> None:
        from hudi_utility_spark import index

        self._timed("index_refresh", lambda: index.refresh_indexes(self.spark, self.cow.table))

    # -- MOR commit stream ---------------------------------------------------------

    def mor_steps(self):
        svc = self.mor
        for pos, op in enumerate(self.plan.mor_ops):
            self._commit(svc, "mor_commit", op)
            self.applied["mor"] += 1
            yield
            if (pos + 1) % CDC_EVERY == 0:
                # the changes of this commit: the one before it was
                # compacted, and a CDC read starts no earlier than that
                since = self.plan.mor_ops[pos - 1]["instant"]
                labels = self._timed("cdc_read", lambda: Counter(
                    svc.cdc(since=since).toPandas()["op"]))
                self.records.append({"what": "cdc", "op": pos, "since": pos - 1,
                                     "labels": labels})
                yield
            self._timed("snapshot_read", lambda: _materialise(svc.read()))
            yield
            traced = self.tracer.enabled
            if traced:
                log_b = _tree_bytes(svc.table.log_path)
                base_b = _tree_bytes(svc.table.path, skip=("_delta_log", "_index"))
                self._note("table.log_over_base_bytes", log_b / max(base_b, 1))
            before = _parquet_files(svc.table.path) if traced else {}
            with self.tracer.span("compact_check") as s:
                ran = svc.compact_if_needed(max_log_ratio=MAX_LOG_RATIO)
            if ran:
                self.samples.setdefault("compact", []).append(s.end - s.start)
                if traced:  # base files the compaction wrote or replaced
                    after = _parquet_files(svc.table.path)
                    self._note("table.compact_bytes_rewritten",
                               float(sum(v[0] for f, v in after.items() if before.get(f) != v)))
            yield

    def _true_files(self, keys_path: str) -> set[str]:
        """Base files the record index sends a lookup key batch to."""
        from hudi_utility_spark import index

        idx = pq.read_table(os.path.join(self.cow.table.path, index.RECORD_INDEX_DIR)).to_pandas()
        return set(idx.merge(pq.read_table(keys_path).to_pandas(), on=model.COW_KEY)["file"])

    def bloom_false_positives(self) -> None:
        """Build a bloom index over the final COW table and note, per key
        batch, the share of its candidate files that hold none of the
        keys. Traced runs only, after the window: the untimed record
        index is the only one the window maintains."""
        from hudi_utility_spark import index

        index.refresh_indexes(self.spark, self.cow.table)
        index.build_bloom_index(self.spark, self.cow.table)
        for path in self.plan.lookups:
            cand = set(index.bloom_candidate_files(self.spark, self.cow.table,
                                                   self.spark.read.parquet(path)))
            if cand:
                self._note("index.bloom_false_positive_ratio",
                           len(cand - self._true_files(path)) / len(cand))

    # -- checks, outside every timing ------------------------------------------

    def check(self) -> list[str]:
        """Replay the model over the commits each stream applied and
        return one reason per output that disagrees with it."""
        failures: list[str] = []
        cow_m = model.TableModel(self.plan.cow_source, model.COW_KEY)
        mor_m = model.TableModel(self.plan.mor_source, model.MOR_KEY)
        models = {"cow": (cow_m, self.plan.cow_ops), "mor": (mor_m, self.plan.mor_ops)}

        def advance(table: str, upto: int) -> None:
            m, ops = models[table]
            for op in ops[len(m.touched):upto + 1]:
                m.apply(op["kind"], op["path"])

        for rec in self.records:
            if rec["what"] == "resume":
                if rec["repaired"] != rec["damaged"]:
                    failures.append(f"resume repaired {rec['repaired']}, damaged {rec['damaged']}")
            elif rec["what"] == "lookup":
                advance("cow", rec["op"])
                keys = pq.read_table(rec["keys"]).to_pandas()
                why = model.same_rows(rec["rows"], cow_m.rows(keys), COW_COLS, model.COW_KEY)
                if why:
                    failures.append(f"lookup after COW commit {rec['op']}: {why}")
            elif rec["what"] == "cdc":
                advance("mor", rec["op"])
                want = model.cdc_counts(mor_m, rec["since"], rec["op"])
                if +want != +rec["labels"]:
                    failures.append(f"cdc after MOR commit {rec['op']}: "
                                    f"{dict(rec['labels'])} != model {dict(want)}")
        advance("cow", self.applied["cow"] - 1)
        advance("mor", self.applied["mor"] - 1)
        self.final = {}
        for name, svc, m, cols in (("COW", self.cow, cow_m, COW_COLS),
                                   ("MOR", self.mor, mor_m, MOR_COLS)):
            got = svc.read().toPandas()
            self.final[name] = (svc, got)
            why = model.same_rows(got, m.state, cols, m.key)
            if why:
                failures.append(f"final {name} snapshot: {why}")
        if self.samples.get("bootstrap"):
            # the bootstrap table is never left damaged between steps
            got = self.spark.read.parquet(self.boot_req.output_path).count()
            if got != len(mor_m.source_keys):
                failures.append(f"bootstrap table holds {got} rows, source {len(mor_m.source_keys)}")
        return failures

    def space_amp(self) -> float:
        """Table bytes on disk (base + log, both commit-stream tables)
        over the bytes of their final live snapshots written once (by
        pyarrow, snappy). Call after :meth:`check`, which reads those
        snapshots."""
        import io

        import pyarrow as pa

        on_disk = once = 0
        for svc, snap in self.final.values():
            on_disk += _tree_bytes(svc.table.path, skip=("_index", "_locks"))
            buf = io.BytesIO()
            pq.write_table(pa.Table.from_pandas(snap, preserve_index=False), buf,
                           compression="snappy")
            once += buf.tell()
        return on_disk / once
