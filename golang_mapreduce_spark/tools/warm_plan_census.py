"""Warm-cache plan census: force the query once (materializes its
persists), then explain a FRESH instance — the plan the run's later
stages actually see. Usage, from the checkout's root:
python -m golang_mapreduce_spark.tools.warm_plan_census <sfdir> <op...>;
env GMRS_PLAN_OUT=<dir> also writes each plan to <dir>/<op>_<tag>.txt,
with <tag> from GMRS_TAG (default warm)."""
import io, os, re, sys
from collections import Counter
from contextlib import redirect_stdout
from pyspark.sql import SparkSession
import __spark_entry__ as E
sf, *names = sys.argv[1:]
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","8")
         .config("spark.driver.memory","6g")
         .config("spark.ui.enabled","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
out_path = os.environ.get("GMRS_PLAN_OUT")
for name in names:
    df = E.queries()[name](spark, sf)
    df.write.format("noop").mode("overwrite").save()
    df2 = E.queries()[name](spark, sf)
    buf = io.StringIO()
    with redirect_stdout(buf): df2.explain("formatted")
    t = buf.getvalue()
    nodes = Counter(re.findall(r"^\(\d+\) ([A-Za-z]+)", t, re.M))
    keep = ("Exchange","HashAggregate","SortMergeJoin","BroadcastHashJoin",
            "Scan","InMemoryTableScan","Window","Sort","BroadcastExchange")
    print(f"WARM {name}: " + str({k: nodes[k] for k in keep if nodes.get(k)}), flush=True)
    if out_path:
        with open(os.path.join(out_path, f"{name}_{os.environ.get('GMRS_TAG','warm')}.txt"), "w") as f:
            f.write(t)
    spark.catalog.clearCache()
