"""Self-tests of the graft benchmark (no JVM needed).

  python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import json
import os
import re
import shutil
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))
STOP = set(gen.STOPWORDS)


def bigrams(text):
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    return set(zip(toks, toks[1:]))


def jaccard(a, b):
    return len(a & b) / len(a | b) if a | b else 0.0


class GeneratedInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="graftbench-test-")
        cls.dirs = {}
        for w, seed in (("daily_snapshot", 7), ("corpus_curate", 7), ("corpus_curate", 8)):
            d = os.path.join(cls.tmp, "%s-%d" % (w, seed))
            gen.generate(w, seed, d)
            cls.dirs[(w, seed)] = d

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def truth(self, w, seed):
        with open(os.path.join(self.dirs[(w, seed)], "truth.json")) as f:
            return json.load(f)

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        again = os.path.join(self.tmp, "again")
        gen.generate("corpus_curate", 7, again)
        a = pq.read_table(os.path.join(self.dirs[("corpus_curate", 7)], "documents.parquet"))
        b = pq.read_table(os.path.join(again, "documents.parquet"))
        c = pq.read_table(os.path.join(self.dirs[("corpus_curate", 8)], "documents.parquet"))
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(c))
        with open(os.path.join(again, "truth.json")) as f:
            self.assertEqual(self.truth("corpus_curate", 7), json.load(f))

    def test_feed_invariants(self):
        d = self.dirs[("daily_snapshot", 7)]
        ev = self.truth("daily_snapshot", 7)["events"]
        con = duckdb.connect()
        con.execute("CREATE TABLE b AS " + checks.BARS_SQL.format(
            events=os.path.join(d, "events.parquet")))
        n, bad_open_close, nulls = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE open <= 0 OR close <= 0), "
            "count(*) FILTER (WHERE open IS NULL OR close IS NULL OR low IS NULL) FROM b").fetchone()
        self.assertEqual(n, ev["user_days"])
        self.assertEqual((bad_open_close, nulls), (0, 0))
        raw = con.execute(
            "SELECT count(*), count(*) - count(DISTINCT (user_id, ts)), count(*) FILTER (WHERE value IS NULL),"
            " count(*) FILTER (WHERE value <= 0) FROM read_parquet(?)",
            [os.path.join(d, "events.parquet")]).fetchone()
        self.assertEqual(raw, (ev["events"], ev["duplicates"], ev["nulls"], ev["negatives"]))
        self.assertGreater(ev["negatives"], 0)
        # Negative ticks survive into the bars' lows: the feed exercises them.
        self.assertGreater(con.execute("SELECT count(*) FROM b WHERE low <= 0").fetchone()[0], 0)

    def test_corpus_invariants(self):
        d = self.dirs[("corpus_curate", 7)]
        t = self.truth("corpus_curate", 7)["documents"]
        rows = pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()
        self.assertEqual([r["doc_id"] for r in rows], list(range(len(rows))))
        cluster = t["cluster_of"]

        def score(text):
            # TextAnalysis.withQuality's quality_score, the gate's input.
            words = re.split(r"\s+", text)
            letters = re.split(r"[^a-z]+", text.lower())
            punct = len(re.findall(r"[^A-Za-z0-9\s]", text))
            stops = sum(t in STOP for t in letters)
            return (0.4 * min(1.0, len(words) / 50) + 0.3 * (1 - punct / len(text))
                    + 0.3 * min(1.0, 5 * stops / len(words)))

        def passes(r):
            return r["lang"] in gen.LANGS and score(r["text"]) >= 0.8

        def fails(r):
            return r["lang"] not in gen.LANGS or score(r["text"]) <= 0.4

        for r in rows:  # every document is clearly on one side of the gate
            self.assertTrue(passes(r) != fails(r), r["doc_id"])
        want = {}
        for r in rows:
            c = cluster[r["doc_id"]]
            if c >= 0 and passes(r):
                want[c] = min(r["doc_id"], want.get(c, r["doc_id"]))
        self.assertEqual(sorted(want.values()), t["survivors"])
        self.assertGreater(t["multi_member_clusters"], 50)
        grams = {r["doc_id"]: bigrams(r["text"]) for r in rows}
        members = {}
        for r in rows:
            if cluster[r["doc_id"]] >= 0:
                members.setdefault(cluster[r["doc_id"]], []).append(r["doc_id"])
        for ids in members.values():  # near-duplicates sit far above the 0.3 threshold
            for i in ids:
                self.assertGreater(jaccard(grams[i], grams[ids[0]]), 0.85)
        sample = t["survivors"][:150]  # unrelated survivors sit far below it
        worst = max(jaccard(grams[a], grams[b]) for i, a in enumerate(sample) for b in sample[i + 1:])
        self.assertLess(worst, 0.1)


class TamperedOutputs(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="graftbench-test-")
        self.con = checks.connect(self.tmp)

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.tmp)

    def test_daily(self):
        in_dir = os.path.join(self.tmp, "in")
        truth = gen.generate("daily_snapshot", 3, in_dir)
        check = checks.DailyCheck(self.con, in_dir, truth)
        out = os.path.join(self.tmp, "out")
        base = os.path.join(out, "snapshot=bench")
        os.makedirs(base)
        self.con.execute("COPY expected_bars TO '%s' (FORMAT PARQUET, PARTITION_BY (date))"
                         % os.path.join(base, "bars"))
        for name in checks.DAILY_EXPORTS[1:]:
            os.makedirs(os.path.join(base, name))
            self.con.execute("COPY (SELECT range AS i FROM range(%d)) TO '%s' (FORMAT PARQUET)"
                             % (check.rows[name], os.path.join(base, name, "part-0.parquet")))
        self.assertIsNone(check(out))
        f = sorted(os.listdir(os.path.join(base, "bars")))[0]
        part = os.path.join(base, "bars", f, os.listdir(os.path.join(base, "bars", f))[0])
        t = pq.read_table(part)
        close = t.column("close").to_pylist()
        close[0] += 0.01
        pq.write_table(t.set_column(t.schema.get_field_index("close"), "close", pa.array(close)), part)
        self.assertIn("differ", check(out))

    def test_curate(self):
        truth = {"documents": {"survivors": [1, 5, 9]}}
        check = checks.CurateCheck(self.con, truth)
        out = os.path.join(self.tmp, "out")
        for shard, ids in ((0, [1, 5]), (1, [9])):
            os.makedirs(os.path.join(out, "shard_id=%d" % shard))
            with open(os.path.join(out, "shard_id=%d" % shard, "part-0.json"), "w") as f:
                f.writelines(json.dumps({"doc_id": i, "text": "x"}) + "\n" for i in ids)
        self.assertIsNone(check(out))
        with open(os.path.join(out, "shard_id=1", "part-0.json"), "a") as f:
            f.write(json.dumps({"doc_id": 4, "text": "y"}) + "\n")
        self.assertIn("1 unexpected", check(out))

    def test_catalogue_row_and_tally(self):
        in_dir = os.path.join(self.tmp, "in")
        os.makedirs(in_dir)
        self.con.execute("COPY (SELECT range AS doc_id, 'en' AS lang FROM range(5)) TO '%s' (FORMAT PARQUET)"
                         % os.path.join(in_dir, "documents.parquet"))
        sql = "SELECT lang, count(*) AS n, round(avg(doc_id), 6) AS m FROM documents GROUP BY lang"
        res = os.path.join(self.tmp, "verify", "row")
        os.makedirs(res)
        self.con.execute("COPY (SELECT 'en' AS lang, 5 AS n, 2.0 AS m) TO '%s' (FORMAT PARQUET)"
                         % os.path.join(res, "part-0.parquet"))
        self.assertIsNone(checks.oracle_check(self.con, in_dir, "row", sql, res))
        self.con.execute("COPY (SELECT 'en' AS lang, 5 AS n, 2.0000001 AS m) TO '%s' (FORMAT PARQUET)"
                         % os.path.join(res, "part-0.parquet"))
        err = checks.oracle_check(self.con, in_dir, "row", sql, res)
        self.assertIsNotNone(err)
        result = {"calls": [{"kind": "measure", "error": None},
                            {"kind": "measure", "error": "digest 1:2:3 differs from verified"}],
                  "oracle_sql": {"row": sql}}
        attempted, errors = run.tally(result, [err])
        self.assertEqual((attempted, len(errors)), (3, 2))


class Declaration(unittest.TestCase):
    def test_benchmark_json_matches_run(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(gen.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual([m["name"] for m in b["per_layer"]], run.per_layer_names())
        for m in b["per_layer"]:
            self.assertEqual(m["unit"], run.unit_of(m["name"]))
            self.assertEqual(m["better"], "higher" if m["name"] in run.HIGHER_IS_BETTER else "lower")


if __name__ == "__main__":
    unittest.main()
