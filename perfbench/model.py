"""Independent model of the lifecycle's two keyed tables.

The model replays the generated commit batches with pandas, by the
rules the program documents (latest precombine wins; partial updates
keep existing values where the batch has NULLs; deletes remove keys;
MERGE deletes matched rows over a quantity threshold, updates the rest
and inserts unmatched ones). It never calls the program. Every batch
carries a newer precombine than any earlier version of its keys, so
"latest precombine" is "last applied".
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

COW_KEY = ["l_orderkey", "l_linenumber"]
MOR_KEY = ["event_id"]
MERGE_DELETE_ABOVE = 45.0  # MERGE deletes matched rows with l_quantity above this


def _frame(path: str, key: list[str]) -> pd.DataFrame:
    df = pq.read_table(path).to_pandas()
    return df.set_index(key, drop=False)


class TableModel:
    """Sequential state of one keyed table."""

    def __init__(self, source_dir: str, key: list[str]):
        self.key = key
        self.state = _frame(source_dir, key)
        self.state.index.names = [f"_{k}" for k in key]
        self.source_keys = set(self.state.index)
        self.alive_history: list[set] = []  # live keys after each applied op
        self.touched: list[set] = []  # keys each applied op wrote

    def _put(self, rows: pd.DataFrame) -> None:
        rows = rows.set_index(self.key, drop=False)
        rows.index.names = self.state.index.names
        self.state = pd.concat([self.state.drop(rows.index, errors="ignore"), rows])

    def apply(self, kind: str, path: str) -> None:
        b = _frame(path, self.key)
        self.touched.append(set(b.index))
        if kind == "upsert":
            self._put(b.reset_index(drop=True))
        elif kind == "delete":
            self.state = self.state.drop(b.set_index(self.key).index, errors="ignore")
        elif kind == "upsert_partial":
            b = b.reset_index(drop=True).set_index(self.key, drop=False)
            b.index.names = self.state.index.names
            cur = self.state.reindex(b.index)
            filled = b.combine_first(cur)[self.state.columns]
            self._put(filled.reset_index(drop=True))
        elif kind == "merge":
            b = b.reset_index(drop=True).set_index(self.key, drop=False)
            b.index.names = self.state.index.names
            matched = b.index.isin(self.state.index)
            m = b[matched]
            gone = m[m["l_quantity"] > MERGE_DELETE_ABOVE].index
            upd = m[m["l_quantity"] <= MERGE_DELETE_ABOVE]
            self.state = self.state.drop(gone)
            cur = self.state.loc[upd.index].copy()
            cur["l_quantity"] = upd["l_quantity"]
            cur["l_shipdate"] = upd["l_shipdate"]
            self._put(pd.concat([cur, b[~matched]]).reset_index(drop=True))
        else:
            raise ValueError(kind)
        self.alive_history.append(set(self.state.index))

    def rows(self, keys: pd.DataFrame) -> pd.DataFrame:
        idx = pd.MultiIndex.from_frame(keys[self.key]) if len(self.key) > 1 \
            else pd.Index(keys[self.key[0]])
        return self.state[self.state.index.isin(idx)]


def cdc_counts(model: TableModel, since_op: int, upto_op: int) -> Counter:
    """Op labels the program's CDC read should return for the changes
    made by ops since_op+1..upto_op (0-based op positions of *model*'s
    history; since_op = -1 means "since the bootstrap")."""
    before = model.alive_history[since_op] if since_op >= 0 else model.source_keys
    after = model.alive_history[upto_op]
    changed = set().union(*model.touched[since_op + 1: upto_op + 1])
    out: Counter = Counter()
    for k in changed:
        if k in after:
            out["update" if k in before else "insert"] += 1
        elif k in before:
            out["delete"] += 1
    return out


def _canon(df: pd.DataFrame, cols: list[str], key: list[str]) -> pd.DataFrame:
    """Engine-neutral form: numbers as rounded float64, timestamps as
    epoch microseconds, everything else as text; NULLs as a sentinel."""
    out = pd.DataFrame(index=df.index)
    for c in cols:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            v = s.astype("datetime64[us]").astype("int64").astype("float64")
            out[c] = v.where(s.notna(), -1.0)
        elif pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("float64").round(6).fillna(-1e300)
        else:
            out[c] = s.astype(object).where(s.notna(), "<null>").astype(str)
    return out.sort_values(key).reset_index(drop=True)


def same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], key: list[str]) -> str | None:
    """None when *got* and *want* hold the same rows over *cols*, else a
    one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != model {len(want)}"
    a, b = _canon(got, cols, key), _canon(want, cols, key)
    for c in cols:
        if not (a[c].values == b[c].values).all():
            diff = int((a[c].values != b[c].values).sum())
            return f"column {c}: {diff} values differ from the model"
    return None
