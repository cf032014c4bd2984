"""The spark-submit entry points (jobs/) exercised in-process, plus
spec-from-meta self-description: the stripe table must be decodable and
compactable without any external schema, like an ORC file is via its
footer."""

import json
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from goorc_spark import allkinds, engine, transcripts  # noqa: E402
from jobs import compact_stripes as compact_cli  # noqa: E402
from jobs import encode_transcripts as encode_cli  # noqa: E402
from tools import stripe_meta  # noqa: E402


def test_spec_from_stripes_every_kind(spark):
    """Nested + decimal + every scalar kind survive the meta round-trip."""
    wide = allkinds.allkinds_from_events(spark, "/root/testdata/sf0.001")
    spec = engine.spec_from_schema(wide.schema)
    stripes = engine.encode_df(
        wide, engine.EncodeConfig(partitions=2, run_id="specmeta"))
    got = engine.spec_from_stripes(stripes)
    assert got == spec
    # and the recovered spec actually decodes — spec=None self-describes
    assert engine.decode_df(stripes).count() == wide.count()


def test_encode_then_compact_cli(spark, capsys):
    base = tempfile.mkdtemp(prefix="goorc_cli_")
    try:
        src = f"{base}/input"
        transcripts.synthesize_spark(spark, n_convs=30).write.parquet(src)
        rc = encode_cli.main([
            "--input", src, "--output", f"{base}/stripes",
            "--stats", f"{base}/run_stats",
            "--partitions", "6", "--stripe-mb", "1", "--verify"])
        assert rc == 0
        enc_metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert enc_metrics["verify_ok"] and enc_metrics["rows"] > 0
        # --stats persisted the per-run rollup next to the stripes
        rs = {r["column"]: r for r in
              spark.read.parquet(f"{base}/run_stats").collect()}
        assert rs["turn_idx"]["n_values"] == enc_metrics["rows"]
        assert rs["turn_idx"]["min_long"] == 0

        rc = compact_cli.main([
            "--stripes", f"{base}/stripes", "--output", f"{base}/compacted",
            "--partitions", "2", "--stripe-mb", "8"])
        assert rc == 0
        cmp_metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert cmp_metrics["rows_out"] == enc_metrics["rows"]
        assert cmp_metrics["stripes_out"] <= cmp_metrics["stripes_in"]
        # compacted table decodes via its own embedded spec
        out = spark.read.parquet(f"{base}/compacted")
        spec = engine.spec_from_stripes(out)
        assert engine.decode_df(out, spec).count() == enc_metrics["rows"]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stripe_meta_tool_on_grouped_stripes(spark, tmp_path, capsys):
    """tools/stripe_meta.py --stripe and --columns on row-grouped stripes,
    whose column metas live in their groups (group 0's are read)."""
    path = str(tmp_path / "stripes")
    cfg = engine.EncodeConfig(key_col="conv_id", order_cols=("turn_idx",),
                              partitions=2, rg_rows=100, run_id="smeta")
    engine.encode_df(transcripts.synthesize_spark(spark, n_convs=30),
                     cfg).write.parquet(path)
    rows = spark.read.parquet(path).select("stripe_id", "meta").collect()
    assert len(rows) == 2
    assert all("row_groups" in json.loads(r["meta"]) for r in rows)
    capsys.readouterr()
    assert stripe_meta.main([path, "--columns"]) == 0
    out = capsys.readouterr().out
    for name in ("conv_id", "turn_idx", "role", "text", "tool", "ts"):
        assert f"\n{name} " in "\n" + out, name
    assert stripe_meta.main([path, "--stripe", rows[0]["stripe_id"]]) == 0
    out = capsys.readouterr().out
    assert "column conv_id (string)" in out and "row groups:" in out
