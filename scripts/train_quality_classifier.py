"""Fit the learned quality classifier and freeze its weights.

Reads the sf0.1 ``documents`` corpus, labels it with the shared
heuristic gate, mixes in deterministic junk documents (label 0), fits
``pyspark.ml`` LogisticRegression on mean-pooled hashed-unigram
features, folds the intercept, quantizes to signed 16-bit fixed point,
and (re)writes ``queries/qclf_weights.py`` — the literal weight table
the serving query and its DuckDB oracle both decode. Evaluates on a
held-out slice of real docs plus fresh-salt junk before writing.

Usage: python scripts/train_quality_classifier.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.ml import qclf_train as qt  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import duckdb

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        QF_KEEP_SQL,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import get_spark

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    rows = con.execute(
        f"SELECT text, {QF_KEEP_SQL} AS keep FROM documents ORDER BY doc_id"
    ).fetchall()

    # deterministic 80/20 split by position (the corpus order is fixed)
    real_texts = [r[0] for r in rows]
    real_labels = [int(r[1]) for r in rows]
    cut = int(len(rows) * 0.8)
    train_texts = real_texts[:cut] + [
        qt.junk_text(i, qt.TRAIN_JUNK_SALT) for i in range(qt.TRAIN_JUNK_N)
    ]
    train_labels = real_labels[:cut] + [0] * qt.TRAIN_JUNK_N

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    weights_fp, fp_scale, metrics = qt.fit_weights(
        spark, train_texts, train_labels
    )
    spark.stop()

    # held-out evaluation on the frozen integers
    ho_texts, ho_labels = real_texts[cut:], real_labels[cut:]
    ho_acc = sum(
        (qt.score_fp(t, weights_fp) > 0) == bool(lab)
        for t, lab in zip(ho_texts, ho_labels)
    ) / len(ho_texts)
    fresh_junk = [qt.junk_text(i, "qclf-eval-junk") for i in range(300)]
    junk_rej = sum(
        qt.score_fp(t, weights_fp) <= 0 for t in fresh_junk
    ) / len(fresh_junk)
    clean = [t for t, lab in zip(ho_texts, ho_labels) if lab]
    clean_acc = sum(qt.score_fp(t, weights_fp) > 0 for t in clean) / len(clean)

    print(f"train acc (fp ints):      {metrics['train_acc_fp']:.4f}")
    print(f"held-out acc vs gate:     {ho_acc:.4f}  (n={len(ho_texts)})")
    print(f"held-out clean kept:      {clean_acc:.4f}  (n={len(clean)})")
    print(f"fresh-salt junk rejected: {junk_rej:.4f}  (n={len(fresh_junk)})")
    print(f"fp_scale={fp_scale} intercept={metrics['intercept']:.4f} "
          f"nonzero={metrics['nonzero_buckets']}")

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "mgl870_tp02_project_01_hadoopmapreducelogs_spark",
        "queries",
        "qclf_weights.py",
    )
    hexstr = qt.encode_hex(weights_fp, qt.N_BUCKETS)
    with open(out, "w") as fh:
        fh.write(
            '"""Frozen quality-classifier weights — GENERATED, do not '
            "hand-edit.\n\nProduced by scripts/train_quality_classifier.py"
            f" on {os.path.basename(sf_dir)}:\n"
            "pyspark.ml LogisticRegression (L2 1e-3, LBFGS) on "
            "mean-pooled 4096-bucket\nhashed unigrams; real docs labeled "
            "by the qf_keep heuristic gate plus\n"
            f"{qt.TRAIN_JUNK_N} deterministic junk docs (label 0); "
            "intercept folded into every\nbucket; signed-16-bit "
            "fixed-point, offset-binary hex encoding.\n"
            f"Held-out: acc_vs_gate={ho_acc:.4f} "
            f"clean_kept={clean_acc:.4f} junk_rejected={junk_rej:.4f}\n"
            '"""\n\n'
            f"#: reported-logit divisor: w_fp / QCLF_FP_SCALE is the\n"
            f"#: folded float weight the LR learned\n"
            f"QCLF_FP_SCALE = {fp_scale}\n\n"
            f'#: {qt.N_BUCKETS} signed-16-bit weights, 4 hex digits each\n'
            f'#: (value = digits - 32768), bucket order\n'
            f'QCLF_WEIGHTS_HEX = (  # noqa: E501\n'
        )
        for i in range(0, len(hexstr), 64):
            fh.write(f'    "{hexstr[i:i + 64]}"\n')
        fh.write(")\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
