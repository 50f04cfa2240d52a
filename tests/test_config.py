"""S9 config contract: YAML → dataclasses, unknown keys rejected
(reference: config/config_manager.py:259-278 and its
test_unknown_fields_are_rejected)."""

from __future__ import annotations

import pytest

from openllm_ocr_annotator_spark.config import load_config


def _write(tmp_path, text):
    p = tmp_path / "job.yaml"
    p.write_text(text)
    return str(p)


def test_valid_config_roundtrip(tmp_path):
    cfg = load_config(_write(tmp_path, """
input_path: /data/docs
table_root: /data/table
partitions: 64
voter:
  method: weighted
  weights: {ann_a: 2.0}
  num_samples: 3
"""))
    assert cfg.input_path == "/data/docs"
    assert cfg.partitions == 64
    assert cfg.voter.weights == {"ann_a": 2.0}


def test_unknown_fields_are_rejected(tmp_path):
    with pytest.raises(ValueError, match="unknown config key.*typo_key"):
        load_config(_write(tmp_path, """
input_path: /x
table_root: /y
typo_key: true
"""))
    with pytest.raises(ValueError, match="unknown config key.*weihgts"):
        load_config(_write(tmp_path, """
input_path: /x
table_root: /y
voter: {weihgts: {}}
"""))


def test_required_and_enum_validation(tmp_path):
    with pytest.raises(ValueError, match="requires input_path"):
        load_config(_write(tmp_path, "table_root: /y"))
    with pytest.raises(ValueError, match="not in"):
        load_config(_write(tmp_path, """
input_path: /x
table_root: /y
voter: {method: quantum}
"""))


def test_job_accepts_config_file(spark, tmp_path):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from run_extraction_job import main

    from openllm_ocr_annotator_spark.synth import synthesize_documents

    docs_path = str(tmp_path / "docs")
    synthesize_documents(spark, "/root/testdata/sf0.001").limit(50).write.parquet(docs_path)
    cfg = _write(tmp_path, f"""
input_path: {docs_path}
table_root: {tmp_path}/table
partitions: 4
""")
    out = main(["--config", cfg, "--master", "local[4]"])
    assert out["committed_spans"] > 0


def test_defaults_composition_merges_in_order(tmp_path):
    """Hydra-style defaults composition (reference config_manager.py:214-227):
    listed files merge first (later wins), the including file wins last,
    nested mappings deep-merge, unknown keys still rejected post-merge."""
    from openllm_ocr_annotator_spark.config import load_config

    (tmp_path / "base.yaml").write_text(
        "input_path: /base/in\ntable_root: /base/table\n"
        "voter:\n  method: majority\n  num_samples: 3\n"
    )
    (tmp_path / "site.yaml").write_text(
        "voter:\n  method: weighted\n  weights: {a: 2.0}\n"
    )
    (tmp_path / "job.yaml").write_text(
        "defaults: [base.yaml, site.yaml]\ninput_path: /job/in\n"
    )
    cfg = load_config(str(tmp_path / "job.yaml"))
    assert cfg.input_path == "/job/in"          # own file wins last
    assert cfg.table_root == "/base/table"      # inherited from base
    assert cfg.voter.method == "weighted"       # site overrides base
    assert cfg.voter.num_samples == 3           # deep-merge keeps base leaf
    assert cfg.voter.weights == {"a": 2.0}


def test_defaults_cycle_and_unknown_key_rejected(tmp_path):
    import pytest

    from openllm_ocr_annotator_spark.config import load_config

    (tmp_path / "a.yaml").write_text("defaults: [b.yaml]\n")
    (tmp_path / "b.yaml").write_text("defaults: [a.yaml]\n")
    with pytest.raises(ValueError, match="cycle"):
        load_config(str(tmp_path / "a.yaml"))

    (tmp_path / "base2.yaml").write_text("bogus_key: 1\n")
    (tmp_path / "job2.yaml").write_text(
        "defaults: [base2.yaml]\ninput_path: /x\ntable_root: /y\n"
    )
    with pytest.raises(ValueError, match="unknown config key"):
        load_config(str(tmp_path / "job2.yaml"))


def test_defaults_non_string_entry_named_error(tmp_path):
    """Hydra-style dict entries (defaults: [{group: option}]) must raise a
    config error naming the file and entry, not an opaque TypeError."""
    import pytest

    from openllm_ocr_annotator_spark.config import load_config

    (tmp_path / "d1.yaml").write_text(
        "defaults:\n  - {group: option}\ninput_path: /x\ntable_root: /y\n"
    )
    with pytest.raises(ValueError, match=r"defaults.*entry.*d1\.yaml.*group"):
        load_config(str(tmp_path / "d1.yaml"))

    (tmp_path / "d2.yaml").write_text(
        "defaults: {not: a-list}\ninput_path: /x\ntable_root: /y\n"
    )
    with pytest.raises(ValueError, match=r"defaults.*d2\.yaml.*list"):
        load_config(str(tmp_path / "d2.yaml"))


def test_scalar_types_and_scalar_section_rejected(tmp_path):
    """The docstring's 'simple type checks' are real: a wrong-typed scalar
    names the key and types instead of exploding later inside Spark, and
    the plausible shorthand `voter: weighted` gets 'must be a mapping'
    rather than the nonsense unknown-keys-['d','e','g',...] error from
    iterating the string."""
    import pytest

    from openllm_ocr_annotator_spark.config import load_config

    base = "input_path: /in\ntable_root: /tbl\n"
    p = tmp_path / "c.yaml"
    p.write_text(base + "voter: weighted\n")
    with pytest.raises(ValueError, match="'voter' must be a mapping"):
        load_config(str(p))
    p.write_text(base + "voter:\n  num_samples: three\n")
    with pytest.raises(ValueError, match="'voter.num_samples' must be int"):
        load_config(str(p))
    # bool is an int subclass in Python; the check still refuses it
    p.write_text(base + "partitions: true\n")
    with pytest.raises(ValueError, match="'partitions' must be int/null"):
        load_config(str(p))
    p.write_text(base + "partitions: null\n")
    assert load_config(str(p)).partitions is None


def test_retired_salt_key_names_partitions(tmp_path):
    """``salt`` is retired: ``salt: false`` did what an unset
    ``partitions`` does (no doc_id repartition). An old-style config that
    still sets it fails as an unknown key, and the error lists
    ``partitions``, the key that now carries the choice."""
    for old in ("salt: true", "salt: false"):
        with pytest.raises(ValueError, match=r"unknown config key.*'salt'.*'partitions'"):
            load_config(_write(tmp_path, f"input_path: /x\ntable_root: /y\n{old}\n"))
