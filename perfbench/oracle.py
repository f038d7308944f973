"""The benchmark's DuckDB side, in a process of its own.

Expected results, the DML mirror and every row comparison live in this
child process, so DuckDB's memory and threads never count in the
measured process tree (driver, JVM and Python workers). The driver talks
to it through ``Oracle``; requests and replies are pickled over the
child's stdin and stdout. Expected results are requested without waiting
for them, so DuckDB computes them while the session warms up.

Rows are compared with the repository's oracle-parity helpers
(``tests/conftest.py``): columns by name, rows order-insensitive unless
the statement orders them, floats bit-equal with the sign of zero,
timestamps by their text.
"""

from __future__ import annotations

import importlib.util
import os
import pickle
import subprocess
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Oracle:
    """Client of the DuckDB child process. Thread-safe: one request at a
    time."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, cwd=ROOT)
        self.pid = self.proc.pid
        self._lock = threading.Lock()

    def _send(self, request: tuple) -> None:
        pickle.dump(request, self.proc.stdin)
        self.proc.stdin.flush()

    def _call(self, *request):
        with self._lock:
            self._send(request)
            status, value = pickle.load(self.proc.stdout)
        if status != "ok":
            raise RuntimeError(f"oracle: {value}")
        return value

    def connect(self, con: str, sf_dir: "str | None" = None) -> None:
        """Open connection ``con``, with a view per fixture table of
        ``sf_dir`` when given."""
        self._call("connect", con, sf_dir)

    def execute(self, con: str, sql: str, fetch: "str | None" = None):
        """Run ``sql``; ``fetch`` is None, ``"one"`` (first cell) or
        ``"df"`` (a pandas frame)."""
        return self._call("execute", con, sql, fetch)

    def expect(self, key: str, con: str, sql: str) -> None:
        """Have the child compute and keep the expected rows of ``sql``
        under ``key``; returns at once (a failure shows in ``check``)."""
        with self._lock:
            self._send(("expect", key, con, sql))

    def check(self, got, *, key: "str | None" = None,
              con: "str | None" = None, sql: "str | None" = None,
              ordered: bool = False) -> "str | None":
        """Compare the pandas frame ``got`` with the rows kept under
        ``key``, or with those of ``sql`` on ``con``. None when equal,
        else a one-line description of the first difference."""
        return self._call("check", got, key, con, sql, ordered)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


# ------------------------------------------------------------- child process

_CONFTEST = None


def _conftest():
    """``tests/conftest.py``, loaded once under a name of its own."""
    global _CONFTEST
    if _CONFTEST is None:
        sys.path.insert(0, ROOT)
        spec = importlib.util.spec_from_file_location(
            "perfbench_oracle_conftest",
            os.path.join(ROOT, "tests", "conftest.py"))
        _CONFTEST = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_CONFTEST)
    return _CONFTEST


def mismatch(got, want, ordered: bool = False) -> "str | None":
    """None when the pandas frames ``got`` and ``want`` hold the same
    rows, else a one-line description of the first difference."""
    ct = _conftest()
    g_cols, w_cols = list(got.columns), list(want.columns)
    if sorted(g_cols) != sorted(w_cols):
        return f"columns {sorted(g_cols)} != {sorted(w_cols)}"
    g_rows = list(got.itertuples(index=False, name=None))
    w_rows = list(want.itertuples(index=False, name=None))
    if len(g_rows) != len(w_rows):
        return f"row count {len(g_rows)} != {len(w_rows)}"
    if ordered:  # columns by name, rows as the statement ordered them
        def norm(cols, rows):
            order = sorted(range(len(cols)), key=cols.__getitem__)
            return [tuple(ct._norm_cell(r[i]) for i in order) for r in rows]
        g_norm, w_norm = norm(g_cols, g_rows), norm(w_cols, w_rows)
    else:
        g_norm = ct._norm_rows(g_cols, g_rows)[1]
        w_norm = ct._norm_rows(w_cols, w_rows)[1]
    for i, (a, b) in enumerate(zip(g_norm, w_norm)):
        if not ct._rows_close(a, b):
            return f"row {i}: got {a} want {b}"
    return None


def _serve(inp, out) -> None:
    import duckdb

    from drill_calcite_spark.catalog import TABLES, table_path

    cons: dict = {}
    expected: dict = {}

    def connect(con, sf_dir):
        c = cons[con] = duckdb.connect()
        for name in TABLES if sf_dir else ():
            path = table_path(sf_dir, name)
            if os.path.exists(path):
                c.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                          f"read_parquet('{path}')")

    def execute(con, sql, fetch):
        res = cons[con].execute(sql)
        if fetch == "one":
            return res.fetchone()[0]
        return res.fetchdf() if fetch == "df" else None

    def expect(key, con, sql):
        try:
            expected[key] = cons[con].execute(sql).fetchdf()
        except Exception as exc:
            expected[key] = f"oracle failed: {type(exc).__name__}: {exc}"

    def check(got, key, con, sql, ordered):
        want = expected[key] if key else cons[con].execute(sql).fetchdf()
        return want if isinstance(want, str) else mismatch(got, want, ordered)

    handlers = {"connect": connect, "execute": execute, "check": check}
    while True:
        try:
            kind, *args = pickle.load(inp)
        except EOFError:
            return
        if kind == "expect":  # no reply
            expect(*args)
            continue
        try:
            reply = ("ok", handlers[kind](*args))
        except Exception as exc:  # reported to the caller, serving goes on
            reply = ("error", f"{type(exc).__name__}: {exc}")
        pickle.dump(reply, out)
        out.flush()


if __name__ == "__main__":
    # replies own the real stdout; anything a library prints goes to stderr
    reply_fd = os.dup(1)
    os.dup2(2, 1)
    _conftest()
    _serve(sys.stdin.buffer, os.fdopen(reply_fd, "wb"))
