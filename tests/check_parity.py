import sys, os, json, time
sys.path.insert(0,'/root/repo'); os.chdir('/root/repo')
import importlib.util
spec = importlib.util.spec_from_file_location('__spark_entry__','/root/repo/__spark_entry__.py')
m = importlib.util.module_from_spec(spec); spec.loader.exec_module(m)
from tests.oracle_harness import duckdb_conn, compare_frames, exact_float_mismatches
from amazon_climate_data_etl_spark.session import get_spark
spark = get_spark(master='local[8]')
sf = sys.argv[1] if len(sys.argv)>1 else '/root/testdata/sf0.01'
only = [n for a in sys.argv[2:] for n in a.split(',')] or None
Q, O = m.queries(), m.oracle_sql()
bad=0
for name in sorted(O):
    if only and name not in only: continue
    try:
        sdf = Q[name](spark, sf).toPandas()
        with duckdb_conn(sf) as c:
            odf = c.execute(O[name]).df()
        p = compare_frames(sdf, odf, name)
        x = exact_float_mismatches(sdf, odf)
    except Exception as e:
        p, x = [f'{name}: EXC {type(e).__name__}: {str(e)[:200]}'], -1
    # release persisted intermediates (in-lineage persists can only be
    # dropped after the action; this sweep is the documented release point)
    spark.catalog.clearCache()
    status = 'OK' if not p and x==0 else 'FAIL'
    if status=='FAIL': bad+=1
    print(name, status, p[:2], 'exact_mismatches=',x, flush=True)
# rows-only queries (no oracle)
for name in sorted(set(Q)-set(O)):
    if only and name not in only: continue
    try:
        nrows = Q[name](spark, sf).count()
        print(name, 'ROWS-ONLY', nrows, flush=True)
    except Exception as e:
        bad+=1
        print(name, 'FAIL-ROWS-ONLY', type(e).__name__, str(e)[:200], flush=True)
    spark.catalog.clearCache()
print('BAD:', bad)
