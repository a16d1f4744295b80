"""Output checks that need no Spark; they run after the JVM has exited,
outside every timed region.

* Query workloads: each catalog query's result, written once per run by
  the JVM, must equal its DuckDB oracle (`SparkEntry.oracleSql`), compared
  with the rules of `tools/check.py` (pyarrow read path, columns sorted by
  name, rows canonicalised and sorted, exact values).
* ledger_ingest: the materialised current-state view and the merged state
  table must equal the generator's own latest-row-per-account map.
"""
import glob
import importlib.util
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen_tables

# Oracles too slow to run at the benchmark's scale: name -> reason. A listed
# oracle is reported as unchecked on every run, never skipped silently.
SLOW_ORACLES = {}


def _check_rules(root):
    spec = importlib.util.spec_from_file_location(
        "gate_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_checks(root, tables_dir, verify_dir, oracle_sql):
    """Returns {query name: (ok, detail)}."""
    rules = _check_rules(root)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in gen_tables.TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        if name in SLOW_ORACLES:
            out[name] = (True, f"unchecked: {SLOW_ORACLES[name]}")
            continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle error fails the query's check
            out[name] = (False, f"oracle error: {e}")
            continue
        parts = sorted(glob.glob(f"{verify_dir}/{name}/*.parquet"))
        if not parts:
            out[name] = (False, "spark output missing")
            continue
        sdf = pd.concat([pq.read_table(p).to_pandas() for p in parts], ignore_index=True)
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            out[name] = (False, f"columns differ: oracle {ocols} spark {scols}")
            continue
        o = rules.canon(odf[ocols].itertuples(index=False, name=None))
        s = rules.canon(sdf[scols].itertuples(index=False, name=None))
        if len(o) != len(s):
            out[name] = (False, f"rowcount oracle={len(o)} spark={len(s)}")
        elif o != s:
            diff = next((a, b) for a, b in zip(o, s) if a != b)
            out[name] = (False, f"values differ, first: oracle {diff[0]} spark {diff[1]}")
        else:
            out[name] = (True, f"{len(o)} rows")
    return out


def result_rows(verify_dir, names):
    """Row count of each written result, from the parquet footers."""
    out = {}
    for name in names:
        parts = glob.glob(f"{verify_dir}/{name}/*.parquet")
        if parts:
            out[name] = sum(pq.read_metadata(p).num_rows for p in parts)
    return out


STATE_COLUMNS = ["balance", "sequence_number", "num_subentries", "flags",
                 "last_modified_ledger", "ledger_entry_change"]


def state_check(name, path, latest):
    """The table at `path` holds exactly the live accounts of `latest`, with
    the generator's values."""
    got = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["account_id"] + STATE_COLUMNS).to_pydict()
    ids = got["account_id"]
    if len(set(ids)) != len(ids):
        return False, f"{name}: an account appears twice"
    if set(ids) != latest.keys():
        return False, (f"{name}: {len(set(ids) - latest.keys())} unexpected and "
                       f"{len(latest.keys() - set(ids))} missing accounts")
    for c in STATE_COLUMNS:
        for acc, v in zip(ids, got[c]):
            if v != latest[acc][c]:
                return False, f"{name}: {acc}.{c} is {v}, expected {latest[acc][c]}"
    return True, f"{name}: {len(ids)} accounts equal"
