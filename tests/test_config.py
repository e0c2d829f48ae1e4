import pytest

from app_dupfind_spark.config import DedupConfig


def test_default_config_valid():
    c = DedupConfig()
    assert c.num_perm == c.lsh_bands * c.lsh_rows
    assert c.config_hash() == DedupConfig().config_hash()


def test_config_hash_changes_with_params():
    assert (
        DedupConfig().config_hash()
        != DedupConfig(jaccard_threshold=0.9).config_hash()
    )


def test_unknown_weed_pass_dies_at_plan_time():
    # reference parity: Guts.pm:62-63 dies on unknown --wpass name
    with pytest.raises(ValueError, match="unknown weed pass"):
        DedupConfig(weed_passes=("first", "nope"))


def test_num_perm_band_row_invariant():
    with pytest.raises(ValueError, match="num_perm"):
        DedupConfig(num_perm=64)  # bands*rows = 128


def test_weed_pass_ordering_is_part_of_identity():
    a = DedupConfig(weed_passes=("first", "last"))
    b = DedupConfig(weed_passes=("last", "first"))
    assert a.config_hash() != b.config_hash()


def test_cli_empty_tuple_value_is_empty_tuple():
    # `--config weed_passes=` is how the CLI says "no weed passes"
    from jobs.run_pipeline import parse_config

    assert parse_config(["weed_passes="]).weed_passes == ()
    assert parse_config(["weed_passes=first,last"]).weed_passes == ("first", "last")
