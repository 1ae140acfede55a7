"""Counting stand-in for the ``neo4j`` Python driver.

Shipped to Spark's Python workers with ``SparkContext.addPyFile`` so that
``load_pg_to_neo4j`` runs its real executor-side batching against it. It
keeps no graph: each process counts, per connection URI
(``fake://<totals dir>``), the write transactions, the rows they carried,
the largest transaction and the retried attempts, and rewrites its own
``totals-<pid>.json`` in that directory whenever a driver is closed. The
benchmark sums those files. Counting only, so the loader is timed rather
than the fake.
"""

import json
import os

_ZERO = {
    "transactions": 0,
    "rows": 0,
    "node_rows": 0,
    "edge_rows": 0,
    "max_tx_rows": 0,
    "retries": 0,
    "index_calls": 0,
}
_TOTALS = {}  # totals dir -> counters of this process


def _counters(dirpath):
    return _TOTALS.setdefault(dirpath, dict(_ZERO))


class _Result:
    def consume(self):
        return None


class _Tx:
    def __init__(self, counters):
        self._c = counters
        self.rows = 0

    def run(self, cypher, batch=None, **params):
        n = len(batch or ())
        self.rows += n
        c = self._c
        c["rows"] += n
        if ")-[" in cypher:
            c["edge_rows"] += n
        elif "CREATE (n" in cypher:
            c["node_rows"] += n
        return _Result()


class _Session:
    def __init__(self, counters):
        self._c = counters

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def run(self, cypher, **params):
        if cypher.lstrip().startswith("CREATE INDEX"):
            self._c["index_calls"] += 1
        return _Result()

    def execute_write(self, fn):
        tx = _Tx(self._c)
        try:
            out = fn(tx)
        except Exception:
            self._c["retries"] += 1
            raise
        self._c["transactions"] += 1
        self._c["max_tx_rows"] = max(self._c["max_tx_rows"], tx.rows)
        return out


class _Driver:
    def __init__(self, uri):
        if not uri.startswith("fake://"):
            raise ValueError(f"fake driver needs a fake:// uri, got {uri!r}")
        self._dir = uri[len("fake://") :]
        self._c = _counters(self._dir)

    def session(self, database=None):
        return _Session(self._c)

    def close(self):
        path = os.path.join(self._dir, f"totals-{os.getpid()}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._c, fh)
        os.replace(tmp, path)


class GraphDatabase:
    @staticmethod
    def driver(uri, auth=None, **kwargs):
        return _Driver(uri)


def read_totals(dirpath):
    """Sum of every process's totals file in ``dirpath``."""
    out = dict(_ZERO)
    for name in os.listdir(dirpath):
        if name.startswith("totals-") and name.endswith(".json"):
            with open(os.path.join(dirpath, name)) as fh:
                rec = json.load(fh)
            for k, v in rec.items():
                out[k] = max(out[k], v) if k == "max_tx_rows" else out[k] + v
    return out
