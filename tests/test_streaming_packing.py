"""q101's greedy first-fit fold resumes from carried (pack_id, fill)
state: folding a size sequence in two halves lands the one-shot answer."""

from csv_loader_spark.queries.llm5 import pack_fold


def test_pack_fold_resumption_equals_one_shot():
    """Folding in two halves from carried state == folding once."""
    sizes = [100, 200, 56, 300, 1, 255, 2, 256, 10]
    one, cur1, fill1, _ = pack_fold(sizes)
    first, cur, fill, started = pack_fold(sizes[:4])
    second, cur2, fill2, _ = pack_fold(sizes[4:], cur, fill, started)
    assert first + second == one
    assert (cur2, fill2) == (cur1, fill1)
