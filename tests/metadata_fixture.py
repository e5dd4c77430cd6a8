"""A small hand-made clips/transcripts pair that plants every case the six
metadata checks must tell apart, and the calls that turn it into
comparable output rows. ``tests/data/metadata_golden.jsonl`` holds those
rows (one ``[section, row]`` per line) as the per-check plans produced
them before the checks were fused into one shared plan; regenerate it
with::

    python -m tests.metadata_fixture tests/data/metadata_golden.jsonl

(only when a check's semantics change on purpose)."""

from __future__ import annotations

import json
import sys
import tempfile

from pyspark.sql import functions as F

NUM_PARTS = 8
# parts 2 and 4 hold no clip; orphan07 and orphan00 hash into them,
# orphan01 into part 1, which has clips
CLIPS = [
    # (clip_id, sr_hz, dur_ms, codec, transcript)
    ("c00", 16000, 2000, "pcm_s16le", "the quick brown fox jumps over the lazy dog"),
    ("c01", None, 2000, "flac", "the cat sat on the mat in the sun today"),
    ("c04", 96001, 3000, "flac", "a clean english sentence about the audio data"),
    ("c05", 16000, None, "mp3", "the spark job runs over the data in the table"),
    ("c06", 16000, -5, "opus", "the model checks every row in the table"),
    ("c07", 16000, 2000, None, "the codec is missing from this clip row"),
    ("c08", 16000, 2000, "vorbis??", "the codec label here is not allowed at all"),
    ("c09", 16000, 2000, "vorbis??", "another clip with the same bad codec label"),
    ("c11", 16000, 2000, "wma", "one more clip with a different bad codec"),
    ("c12", 16000, 2000, "pcm_s16le", None),
    ("c13", 16000, 2000, "pcm_s16le", "   "),
    ("c14", 16000, 60000, "pcm_s16le", "hi"),
    ("c15", 16000, 2000, "alaw", "der hund ist nicht auf der wiese und das ist ein problem"),
    ("c16", 16000, 2000, "mulaw", "!!!!!!!!!!!!!!!!! ################# $$$$$$$$$$$$$$$$$"),
    ("c17", 16000, 2000, "pcm_s16le", "the first transcript of a duplicated clip id"),
    ("c17", 8000, 2500, "flac", "a second and different transcript for the same id"),
    ("c18", 16000, 2000, "adpcm_ima", "the quick brown fox jumps over the lazy dog"),
    ("c19", 16000, 2000, "pcm_s16le", "clean english words in a normal sentence"),
    ("c20", 8000, 1500, "flac", "the rain in spain falls mainly on the plain"),
    ("c21", 0, 1500, "flac", "zero sample rate is out of the range"),
    ("c23", 16000, 2000, "pcm_s16le", "the end of the fixture table is here now"),
]
CLIPS_DDL = "clip_id string, sr_hz int, dur_ms int, codec string, transcript string"
TRANSCRIPTS_DDL = "clip_id string, transcript string, lang string"
CHECKS = ("row_rules", "stats", "uniqueness", "referential", "frequency",
          "transcript_quality")


def transcripts_rows() -> list[tuple]:
    """One row per distinct clip except c19 (missing); c18's text differs
    (mismatch); c17 matches its first row only; three orphans."""
    out, seen = [], set()
    for cid, _, _, _, text in CLIPS:
        if cid in seen or cid == "c19":
            continue
        seen.add(cid)
        if cid == "c18":
            text = "a transcript that does not match the clip table"
        out.append((cid, text, "en"))
    return out + [(o, f"text of {o}", "en") for o in ("orphan00", "orphan01", "orphan07")]


def frames(spark):
    return (spark.createDataFrame(CLIPS, CLIPS_DDL),
            spark.createDataFrame(transcripts_rows(), TRANSCRIPTS_DDL))


def _rows(df) -> list[list]:
    """All columns but run_id, as sorted JSON-able lists."""
    cols = [c for c in df.columns if c != "run_id"]
    rows = [[r[c] for c in cols] for r in df.select(*cols).collect()]
    return sorted(rows, key=lambda r: json.dumps(r))


def check_outputs(spark) -> dict:
    """Each check's public function on its own, over the whole fixture."""
    from semantic_log_detector_spark.checks.base import RunContext
    from semantic_log_detector_spark.checks.column_stats import stats_check
    from semantic_log_detector_spark.checks.frequency import frequency_check
    from semantic_log_detector_spark.checks.referential import referential_check
    from semantic_log_detector_spark.checks.row_rules import default_clip_rules, run_row_rules
    from semantic_log_detector_spark.checks.transcript_quality import transcript_quality_check
    from semantic_log_detector_spark.checks.uniqueness import uniqueness_check

    ctx = RunContext(run_id="golden", num_parts=NUM_PARTS)
    clips, transcripts = frames(spark)
    results = {
        "row_rules": run_row_rules(clips, default_clip_rules(), ctx),
        "stats": stats_check(clips, ctx),
        "uniqueness": uniqueness_check(clips, ctx),
        "referential": referential_check(clips, transcripts, ctx),
        "frequency": frequency_check(clips, ctx),
        "transcript_quality": transcript_quality_check(
            clips, ctx, allowed_langs=("en", "und"), min_quality=0.6),
    }
    out = {}
    for name, res in results.items():
        out[name] = {"verdicts": _rows(res.verdicts), "violations": _rows(res.violations)}
        res.release()
    return out


# parts each check already finished in the ledger before the resumed call:
# the checks' pending part sets differ, and frequency/transcript_quality
# share one
DONE_BEFORE = {
    "row_rules": (0, 1, 2),
    "stats": (5,),
    "referential": (0, 3, 4),
    "frequency": (6, 7),
    "transcript_quality": (6, 7),
}


def resume_outputs(spark, out_dir: str) -> dict:
    """run_suite over the fixture after a ledger that marks DONE_BEFORE as
    complete under the same lineage: the verdict, violation and ledger
    rows the resumed call adds."""
    from semantic_log_detector_spark.plans import ledger
    from semantic_log_detector_spark.plans.runner import SuiteConfig, run_suite

    clips, transcripts = frames(spark)
    cfg = SuiteConfig(num_parts=NUM_PARTS, checks=CHECKS)
    for check, parts in DONE_BEFORE.items():
        ledger.append(spark, f"{out_dir}/ledger", "before", check,
                      [(p, 0, 0) for p in parts], 0.0, "fx", cfg.config_hash())
    run_suite(spark, clips, transcripts, out_dir, cfg, input_fingerprint="fx")
    led = (spark.read.parquet(f"{out_dir}/ledger").filter(F.col("run_id") != "before")
           .select("check_id", "part_id", "n_rows", "n_violations"))
    return {
        "verdicts": _rows(spark.read.parquet(f"{out_dir}/verdicts")),
        "violations": _rows(spark.read.parquet(f"{out_dir}/violations")),
        "ledger": _rows(led),
    }


def write_golden(path: str, golden: dict) -> None:
    """``{"checks": {check: {kind: rows}}, "resume": {kind: rows}}`` as
    one ``[section, row]`` JSON line per row."""
    sections = [(f"checks/{c}/{kind}", rows)
                for c, kinds in golden["checks"].items() for kind, rows in kinds.items()]
    sections += [(f"resume/{kind}", rows) for kind, rows in golden["resume"].items()]
    with open(path, "w") as f:
        for section, rows in sections:
            for row in rows:
                f.write(json.dumps([section, row]) + "\n")


def read_golden(path: str) -> dict:
    golden: dict = {}
    with open(path) as f:
        for line in f:
            section, row = json.loads(line)
            node = golden
            *parents, kind = section.split("/")
            for key in parents:
                node = node.setdefault(key, {})
            node.setdefault(kind, []).append(row)
    return golden


def main(path: str) -> None:
    from semantic_log_detector_spark.session import get_spark

    spark = get_spark(app_name="metadata-golden", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        write_golden(path, {"checks": check_outputs(spark),
                            "resume": resume_outputs(spark, tmp)})
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
