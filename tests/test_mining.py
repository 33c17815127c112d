import hashlib

from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import matrix, mining
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs


def _parsed(spark, log_dir):
    return logs.parse_lines(logs.read_log_dir(spark, log_dir)).cache()


def test_glob_skips_decoy_and_finds_both_containers(spark, log_dir):
    raw = logs.read_log_dir(spark, log_dir)
    files = [r.file for r in raw.select("file").distinct().collect()]
    assert len(files) == 2
    assert all("container_" in f and f.endswith(".log") for f in files)


def test_line_ids_are_dense_per_file(spark, log_dir):
    raw = logs.read_log_dir(spark, log_dir)
    per_file = raw.groupBy("file").agg(
        F.count("*").alias("n"), F.min("line_no").alias("lo"), F.max("line_no").alias("hi")
    )
    for r in per_file.collect():
        assert (r.lo, r.hi) == (1, r.n)


def test_exact_mining_invariants(spark, log_dir):
    parsed = _parsed(spark, log_dir)
    catalog = mining.mine_exact(parsed)
    rows = catalog.collect()
    n_lines = parsed.count()
    # Σ size = line count (SURVEY §5.2 property); ids dense 1..k
    assert sum(r.size for r in rows) == n_lines
    ids = sorted(r.cluster_id for r in rows)
    assert ids == list(range(1, len(rows) + 1))
    # deterministic under repartition (order-independence)
    catalog2 = mining.mine_exact(parsed.repartition(7))
    assert sorted(map(tuple, catalog.select("template", "size").collect())) == sorted(
        map(tuple, catalog2.select("template", "size").collect())
    )


def test_drainish_deterministic_under_repartition(spark, log_dir):
    parsed = _parsed(spark, log_dir)
    a = mining.mine_drainish(parsed)
    b = mining.mine_drainish(parsed.repartition(11))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_drainish_generalizes_with_wildcards(spark, log_dir):
    parsed = _parsed(spark, log_dir)
    exact = mining.mine_exact(parsed)
    drain = mining.mine_drainish(parsed)
    assert drain.count() <= exact.count()
    # Σ size preserved
    total = parsed.count()
    assert drain.agg(F.sum("size")).collect()[0][0] == total
    # the progress-report template generalizes its numeric slot
    tmpl = [r.template for r in drain.collect() if "Progress of TaskAttempt" in r.template]
    assert tmpl and all("<*>" in t for t in tmpl)


def test_match_lines_assigns_every_line(spark, log_dir):
    parsed = _parsed(spark, log_dir)
    catalog, occ = matrix.pipeline(parsed, method="exact")
    # every line maps to exactly one event id (SURVEY §5.2 property)
    assert occ.filter(F.col("cluster_id").isNull()).count() == 0
    assert occ.count() == parsed.count()
    # event_counts == catalog sizes
    counts = {r.cluster_id: r.total for r in matrix.event_counts(occ).collect()}
    sizes = {r.cluster_id: float(r.size) for r in catalog.collect()}
    assert counts == sizes


def test_match_unseen_line_gets_null(spark, log_dir):
    parsed = _parsed(spark, log_dir)
    catalog = mining.mine_exact(parsed)
    novel = spark.createDataFrame(
        [("never seen before message zzz",)], ["masked"]
    )
    mapping = catalog.select(F.col("template").alias("masked"), "cluster_id")
    out = mining.match_lines(novel, mapping)
    assert out.collect()[0].cluster_id is None


def test_new_templates_diff(spark, log_dir):
    parsed = _parsed(spark, log_dir)
    catalog = mining.mine_exact(parsed)
    old = catalog.limit(3).select("template")
    diff = mining.new_templates(old, catalog)
    assert diff.count() == catalog.count() - 3


def test_accumulate_catalog_sums_sizes(spark, log_dir):
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import sinks

    parsed = _parsed(spark, log_dir)
    catalog = mining.mine_exact(parsed)
    total = catalog.agg(F.sum("size")).collect()[0][0]
    merged = sinks.accumulate_catalog(catalog, catalog)
    # re-running the same corpus doubles every size (BASELINE.md observable)
    assert merged.agg(F.sum("size")).collect()[0][0] == 2 * total
    assert merged.count() == catalog.count()


def test_every_catalog_numbers_templates_by_one_rule(spark):
    """Exact, drainish, Drain and the ``--state`` merge give one catalog
    shape and one numbering: dense ids in template order (binary, so
    upper case before lower and non-ASCII last) over the same
    templates. Each message has its own token count, so neither Drain
    nor drainish merges two of them."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import drain
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import sinks

    messages = {
        "": 2,
        "error disk full": 3,
        "Error disk": 1,
        "ERROR 日本語 ログ 失敗": 2,
        "Überlauf im Puffer bei Zürich": 4,
    }
    lines = [(m,) for m, n in messages.items() for _ in range(n)]
    parsed = spark.createDataFrame(lines, "masked string")
    half = spark.createDataFrame(lines[::2], "masked string")
    rest = spark.createDataFrame(lines[1::2], "masked string")
    catalogs = {
        "exact": mining.mine_exact(parsed),
        "drainish": mining.mine_drainish(parsed),
        "drain": drain.fit_distributed(parsed),
        "accumulated": sinks.accumulate_catalog(
            mining.mine_exact(half), mining.mine_exact(rest)
        ),
    }
    expected = list(enumerate(sorted(messages, key=str.encode), start=1))
    for name, catalog in catalogs.items():
        assert catalog.columns == ["cluster_id", "size", "template", "template_hash"], name
        rows = sorted(catalog.collect())
        assert [(r.cluster_id, r.template) for r in rows] == expected, name
        assert [r.size for r in rows] == [messages[t] for _, t in expected], name
        assert all(
            r.template_hash == hashlib.sha256(r.template.encode()).hexdigest()
            for r in rows
        ), name
