"""Output checks: convoy outputs against the generator's model, llm-prep
outputs against each query's DuckDB oracle SQL."""
import glob
import importlib.util
import os

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_convoy(out_dir, model):
    """Mismatches between one `ConvoyPipeline.write` output and the model."""
    bad = []

    def rows(name):
        return pq.read_table(os.path.join(out_dir, name)).num_rows

    tweets = pq.read_table(os.path.join(out_dir, "tweets_i"),
                           columns=["tweet_id", "ur_conversation_id"]).to_pydict()
    if len(tweets["tweet_id"]) != model.tweets:
        bad.append("tweets_i rows %d != %d" % (len(tweets["tweet_id"]), model.tweets))
    got_ur = dict(zip(tweets["tweet_id"], tweets["ur_conversation_id"]))
    wrong = [t for t, u in model.ur.items() if got_ur.get(t) != u]
    if wrong:
        bad.append("ur_conversation_id wrong for %d tweets (e.g. %d)" % (len(wrong), wrong[0]))
    if rows("users_a") != model.users:
        bad.append("users_a rows %d != %d" % (rows("users_a"), model.users))
    if rows("_quarantine") != model.quarantine:
        bad.append("_quarantine rows %d != %d" % (rows("_quarantine"), model.quarantine))
    n_ids = 0
    for f in glob.glob(os.path.join(out_dir, "conversation_ids", "part-*")):
        with open(f) as fh:
            n_ids += sum(1 for line in fh if line.strip())
    if n_ids != model.conversation_ids:
        bad.append("conversation_ids %d != %d" % (n_ids, model.conversation_ids))
    stats = pq.read_table(os.path.join(out_dir, "tweet_stats_i"),
                          columns=["tweet_id", "descendants", "max_depth"]).to_pydict()
    if len(stats["tweet_id"]) != len(model.ur):
        bad.append("tweet_stats_i rows %d != %d" % (len(stats["tweet_id"]), len(model.ur)))
    got = {t: (d, m) for t, d, m in zip(stats["tweet_id"], stats["descendants"],
                                        stats["max_depth"])}
    wrong = [t for t in model.ur
             if got.get(t) != (model.descendants[t], model.max_depth[t])]
    if wrong:
        bad.append("descendants/max_depth wrong for %d tweets (e.g. %d)" % (len(wrong), wrong[0]))
    return bad


def _canon():
    """The registry checker's canonical form (sorted columns and rows)."""
    spec = importlib.util.spec_from_file_location(
        "registry_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def check_queries(fixture_dir, out_dir, oracle_sql):
    """{query: mismatch or None} for each query that has oracle SQL."""
    import duckdb
    import pandas as pd
    canon = _canon()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'"
                % (t, os.path.join(fixture_dir, t + ".parquet")))
    res = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = canon(pd.read_parquet(os.path.join(out_dir, name)))
            want = canon(con.sql(sql).df())
        except Exception as e:  # a missing output or an oracle error fails
            res[name] = str(e).splitlines()[0][:200]
            continue
        if list(got.columns) != list(want.columns):
            res[name] = "columns %s != %s" % (list(got.columns), list(want.columns))
        elif got.shape != want.shape:
            res[name] = "shape %s != %s" % (got.shape, want.shape)
        elif not got.equals(want):
            res[name] = "values differ"
        else:
            res[name] = None
    con.close()
    return res
