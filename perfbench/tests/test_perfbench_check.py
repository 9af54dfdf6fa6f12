"""``ok_frac`` counts a request as failed when its answer is wrong or
it raised: a float off by 1e-3, a dropped row and an exception each
fail; a correct answer in another row order passes."""

import csv

import duckdb
import pytest
from pyspark.sql import types as T

import check
import gen
import workloads
from query_planner_optimizer_spark.dsl.assembler import assemble_sql
from query_planner_optimizer_spark.runner import QueryRun

Q = {"select": ["country", {"SUM": "bid_price", "round": 4}, {"COUNT": "*"}],
     "from": "events", "where": [{"col": "type", "op": "eq",
                                  "val": "impression"}],
     "group_by": ["country"]}

TYPES = {"ts": T.LongType(), "type": T.StringType(),
         "auction_id": T.StringType(), "advertiser_id": T.IntegerType(),
         "publisher_id": T.IntegerType(), "bid_price": T.DoubleType(),
         "user_id": T.LongType(), "total_price": T.DoubleType(),
         "country": T.StringType(), "ts_dt": T.TimestampType(),
         "day": T.DateType(), "week": T.DateType(),
         "hour": T.TimestampType(), "minute": T.StringType()}


class FakeCatalog:
    def spark_type_map(self, name):
        return TYPES


class FakeRunner:
    """Writes a prepared answer as the runner's CSV sink would."""

    router = None

    def __init__(self, answers):
        self.answers = list(answers)

    def run_one(self, q, index=0, csv_path=None):
        rows = self.answers.pop(0)
        if isinstance(rows, Exception):
            raise rows
        cols = list(self.truth.columns)
        with open(csv_path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            w.writerows(rows)
        return QueryRun(index, cols, rows, 0.0, total_rows=len(rows))


@pytest.fixture()
def events_csv(tmp_path):
    path = str(tmp_path / "events.csv")
    gen.write_events_csv(path, seed=3, n=500, days=3)
    return path


def _truth(path):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE events AS SELECT * FROM read_csv('{path}', "
                "header=true, nullstr=['', 'null'])")
    df = con.execute(assemble_sql(Q, TYPES, dialect="duckdb",
                                  ts_is_millis=True)).df()
    con.close()
    return df


def test_compare_flags_each_wrong_answer(events_csv):
    want = _truth(events_csv)
    assert check.compare(want.iloc[::-1].copy(), want) is None
    off = want.copy()
    off.iloc[0, 1] += 1e-3
    assert "row" in check.compare(off, want)
    assert "rows" in check.compare(want.iloc[1:], want)


def test_ok_frac_counts_wrong_floats_dropped_rows_and_errors(tmp_path, events_csv):
    truth = _truth(events_csv)
    good = [tuple(r) for r in truth.itertuples(index=False)]
    off = [good[0][:1] + (good[0][1] + 1e-3,) + good[0][2:]] + good[1:]
    answers = [good[::-1], off, good[1:], RuntimeError("boom"), good]
    ctx = workloads.Context("adhoc_dsl", 0, 60.0, False, str(tmp_path))
    runner = FakeRunner(answers)
    runner.truth = truth
    dsl = workloads.DslRunner(ctx, runner, str(tmp_path / "results"))

    ctx.limit = len(answers)
    lat, window_s = ctx.closed_loop([Q] * len(answers),
                                    lambda i, rid, q: dsl.run(rid, q))
    dsl.check_answers(events_csv, FakeCatalog())
    assert sorted(ctx.failed) == ["t00001", "t00002", "t00003"]
    e2e = workloads._end_to_end(ctx, 0.0, lat, window_s, 0.0, 0.0)
    assert e2e["ok_frac"] == pytest.approx(2 / 5)

