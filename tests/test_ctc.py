"""CTC greedy decode kernel — mirrors the reference's hand-built-logits
self-test (/root/reference/Module/RecognitionLoss.py:41-54) as asserted
pytest cases."""

import numpy as np
import pytest

from ocr_spark.config import BLANK_INDEX, CHAR_VECTOR, NUM_CLASSES
from ocr_spark.kernels.ctc import (
    ctc_greedy_decode,
    ctc_greedy_decode_batch,
    decode_indices,
    encode_text,
)


def _logits_for(path: list[int], T: int | None = None) -> np.ndarray:
    T = T or len(path)
    lg = np.zeros((T, NUM_CLASSES), dtype=np.float32)
    lg[:, BLANK_INDEX] = 0.5
    for t, c in enumerate(path):
        lg[t, c] = 2.0
    return lg


def test_vocabulary_matches_reference():
    assert len(CHAR_VECTOR) == 94
    assert NUM_CLASSES == 95
    assert BLANK_INDEX == 94
    assert CHAR_VECTOR[0] == "0" and CHAR_VECTOR[10] == "a" and CHAR_VECTOR[-1] == '"'


def test_all_blank_decodes_empty():
    lg = np.zeros((384, NUM_CLASSES))
    lg[:, BLANK_INDEX] = 1.0
    assert ctc_greedy_decode(lg) == ""


def test_reference_main_block_case():
    # /root/reference/Module/RecognitionLoss.py:41-54: blank everywhere,
    # t0 → class 1 ('1'), t1 → class 10 ('a')
    lg = np.zeros((384, NUM_CLASSES))
    lg[:, BLANK_INDEX] = 1.0
    lg[0, 1] = 2.0
    lg[1, 10] = 4.0
    assert ctc_greedy_decode(lg) == "1a"


def test_repeat_collapse_and_blank_separated_repeat():
    # 'a a' consecutive collapses to 'a'; 'a blank a' stays 'aa'
    a = 10
    lg = _logits_for([a, a, BLANK_INDEX, a])
    assert ctc_greedy_decode(lg) == "aa"
    lg2 = _logits_for([a, a, a])
    assert ctc_greedy_decode(lg2) == "a"


def test_seq_len_truncation():
    a, b = 10, 11
    lg = _logits_for([a, b, b, b])
    assert ctc_greedy_decode(lg, seq_len=1) == "a"
    assert ctc_greedy_decode(lg, seq_len=0) == ""


def test_roundtrip_full_charset():
    text = CHAR_VECTOR
    idx = encode_text(text)
    assert decode_indices(idx) == text
    # logits path: interleave blanks so repeats survive
    path: list[int] = []
    for i in idx:
        path.extend([i, BLANK_INDEX])
    assert ctc_greedy_decode(_logits_for(path)) == text


def test_encode_skips_oov():
    assert decode_indices(encode_text("a€b")) == "ab"


def test_batch_decode_matches_single():
    rng = np.random.RandomState(7)
    batch = rng.rand(5, 40, NUM_CLASSES).astype(np.float32)
    lens = np.array([40, 10, 0, 25, 40])
    got = ctc_greedy_decode_batch(batch, lens)
    want = [ctc_greedy_decode(batch[i], int(lens[i])) for i in range(5)]
    assert got == want


def test_golden_logit_rows_decode_as_a_batch():
    # hand-built golden rows of different lengths, padded to one [B, T, C]
    # batch and cut back by seq_lens — the reference self-test shape
    # (the reference's Module/RecognitionLoss.py:41-54)
    a = 10
    paths = [[1, 10], [a, a, BLANK_INDEX, a], [BLANK_INDEX] * 5]
    batch = np.stack([_logits_for(p, T=5) for p in paths])
    lens = np.array([len(p) for p in paths])
    assert ctc_greedy_decode_batch(batch, lens) == ["1a", "aa", ""]


def test_decode_skips_negative_fill():
    # -1 is the sparse→dense fill value (RecognitionLoss.py:37)
    assert decode_indices([10, -1, 11]) == "ab"


def test_bad_shape_raises():
    with pytest.raises(ValueError):
        ctc_greedy_decode(np.zeros((2, 3, 4)))


def test_beam_equals_greedy_on_separable_logits():
    from ocr_spark.kernels.ctc import ctc_beam_decode, ctc_greedy_decode, encode_text
    import numpy as np
    from ocr_spark.config import BLANK_INDEX, NUM_CLASSES

    idx = encode_text("Hi9")
    T = 2 * len(idx) + 1
    logits = np.full((T, NUM_CLASSES), -5.0)
    for t in range(T):
        if t % 2 == 0:
            logits[t, BLANK_INDEX] = 5.0
        else:
            logits[t, idx[t // 2]] = 5.0
    assert ctc_greedy_decode(logits) == "Hi9"
    assert ctc_beam_decode(logits) == "Hi9"


def test_beam_recovers_mass_split_across_alignments():
    """The classic greedy failure: per-frame argmax is blank everywhere,
    but the summed probability of the labeling 'a' over its alignments
    exceeds the empty labeling — prefix beam search finds it."""
    from ocr_spark.kernels.ctc import ctc_beam_decode, ctc_greedy_decode, encode_text
    import numpy as np
    from ocr_spark.config import BLANK_INDEX, NUM_CLASSES

    a = encode_text("a")[0]
    # two frames: P(blank)=0.4, P(a)=0.6 each... greedy argmax picks 'a','a'
    # -> collapses to 'a'. Make it adversarial instead: P(blank)=0.52,
    # P(a)=0.48 per frame. Greedy: blank,blank -> "".
    # P("")=0.52*0.52=0.2704; P("a")=sum of alignments (a,-),(-,a),(a,a)
    # = .48*.52+.52*.48+.48*.48 = 0.7296 -> beam must output "a".
    logits = np.full((2, NUM_CLASSES), -30.0)
    logits[:, BLANK_INDEX] = np.log(0.52)
    logits[:, a] = np.log(0.48)
    assert ctc_greedy_decode(logits) == ""
    assert ctc_beam_decode(logits, beam_width=4) == "a"


def test_beam_respects_repeat_blank_discipline():
    """'aa' needs an intervening blank; without one the mass belongs to
    'a' regardless of beam width."""
    from ocr_spark.kernels.ctc import ctc_beam_decode, encode_text
    import numpy as np
    from ocr_spark.config import NUM_CLASSES

    a = encode_text("a")[0]
    logits = np.full((3, NUM_CLASSES), -30.0)
    logits[:, a] = 5.0
    assert ctc_beam_decode(logits) == "a"
