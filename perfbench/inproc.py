"""In-process pass of the notebook decks through the engine's own API.

Run by the traced ``notebook_sf01`` workload in a fresh process:
``inproc.py <fixture_dir> <sink_dir> <seed> <decks> <out.json>``.
Times ``build_spark`` (Spark start), ``EngineSession.execute_statement``
(submit), each ``Operation.fetch`` (page), each statement from submit
to its last page, ``completions``, and the dialect layer's
``split_statements`` and ``rewrite`` on every statement text, and
checks every result exactly as the gateway pass does.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

import notebook as nb


class EngineExec:
    def __init__(self, sess):
        self.sess = sess
        self.submit_s: list[float] = []
        self.fetch_s: list[float] = []
        self.pages: list[int] = []
        self.rewrite_us: list[float] = []
        self.split_us: list[float] = []
        self.engine_s: list[tuple[str, float]] = []

    def _dialect(self, sql: str) -> None:
        from flink_sql_toolkit_spark.dialect import rewrite, split_statements

        t = time.perf_counter()
        split_statements(sql)
        self.split_us.append(1e6 * (time.perf_counter() - t))
        t = time.perf_counter()
        rewrite(sql)
        self.rewrite_us.append(1e6 * (time.perf_counter() - t))

    def stmt(self, kind: str, sql: str) -> list[list]:
        t0 = time.perf_counter()
        op = self.sess.execute_statement(sql)
        self.submit_s.append(time.perf_counter() - t0)
        rows: list[list] = []
        token, pages = 0, 0
        while True:
            t = time.perf_counter()
            page = op.fetch(token)
            self.fetch_s.append(time.perf_counter() - t)
            pages += 1
            rows.extend(page["data"])
            if page["resultType"] == "EOS":
                break
            token = page["nextResultToken"]
        self.engine_s.append((kind, time.perf_counter() - t0))
        self.pages.append(pages)
        self._dialect(sql)
        return rows

    def complete(self, text: str) -> list[str]:
        t0 = time.perf_counter()
        items = self.sess.completions(text, line_prefix=text[: text.index(" FROM")])
        self.engine_s.append(("complete", time.perf_counter() - t0))
        return [it["label"] for it in items]


def main() -> None:
    fixture_dir, sink_dir, seed, decks, out = sys.argv[1:6]
    seed, decks = int(seed), int(decks)
    t0 = time.perf_counter()
    from flink_sql_toolkit_spark.engine import Engine
    from flink_sql_toolkit_spark.session import build_spark

    spark = build_spark("notebook-inproc")
    spark_start = time.perf_counter() - t0
    sess = Engine(spark).open_session("notebook")
    oracle = nb.Oracle(fixture_dir)
    setup = EngineExec(sess)
    for sql in nb.setup_statements(fixture_dir, sink_dir):
        setup.stmt("ddl", sql)
    # the decks the gateway pass ran, in the same order, in a process
    # started the same way, so each statement meets the same warmth
    ex = EngineExec(sess)
    for deck in range(decks):
        for i, op in enumerate(nb.build_deck(seed, deck)):
            nb.run_op(ex, oracle, op, f"{deck}_{i}")
    with open(out, "w") as fh:
        json.dump(
            {
                "spark_start_s": spark_start,
                "engine_s": ex.engine_s,
                "submit_p50_ms": 1e3 * statistics.median(ex.submit_s),
                "fetch_p50_ms": 1e3 * statistics.median(ex.fetch_s),
                "pages_per_stmt": statistics.fmean(ex.pages),
                "rewrite_p50_us": statistics.median(ex.rewrite_us),
                "split_p50_us": statistics.median(ex.split_us),
            },
            fh,
        )
    spark.stop()


if __name__ == "__main__":
    main()
