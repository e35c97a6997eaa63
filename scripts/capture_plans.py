"""Capture .explain("formatted") for every headline bench query into
plans/<tag>/<query>_<suffix>.txt (round-10 optimization evidence).

Usage: python scripts/capture_plans.py <tag> <suffix> [query ...]
e.g.   python scripts/capture_plans.py r10 before
"""
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    from blq_cli_spark.gates import queries
    from blq_cli_spark.session import checkpoint_scope, get_spark

    import bench

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-capture",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = queries()
    names = [n for n in bench.HEADLINE if not only or n in only]
    for name in names:
        # supported-surface capture (ADVICE r10 #3): redirect
        # df.explain('formatted') instead of reaching into
        # PythonSQLUtils (private, breaks on Connect / version bumps).
        # Building a query checkpoints eagerly (shared_tables); the
        # scope frees those blocks once the plan is captured.
        buf = io.StringIO()
        with checkpoint_scope(spark), contextlib.redirect_stdout(buf):
            qs[name](spark, SF_DIR).explain("formatted")
        plan = buf.getvalue()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        # plan-shape summary to stderr for the optimization log
        n_ex = plan.count("Exchange")
        n_py = plan.count("EvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow")
        joins = [w for w in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                             "BroadcastNestedLoopJoin", "CartesianProduct") if w in plan]
        print(f"{name}: Exchange={n_ex} PythonNodes={n_py} joins={joins}",
              file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
