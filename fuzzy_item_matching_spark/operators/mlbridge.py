"""ml.Pipeline adapters — API parity with the reference's MLlib stack.

The engine's native path is array-native columns (SURVEY §7.0);
``VectorUDT`` appears only at ml.* boundaries. This module provides:

- the reference's NAME pipeline as a real ``pyspark.ml.Pipeline``
  (T1→T2→T3→T4→T5→T7→T8→T9, `01_Feature Engineering.py:184-298`),
  including the SQLTransformer melt/collapse stages (T3/T5/T13).
Callers cross between the two worlds with
``pyspark.ml.functions.vector_to_array`` / ``array_to_vector``.

Parity contract (SURVEY §7.2 stage 4): tokenization/stopword/n-gram
stages agree exactly with the array-native kernels; hashed dimensions
use MLlib's own MurmurHash (different from both F.hash and md5_bucket),
so vector CONTENTS are checked by norm/nnz properties, not
hash-equality.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import (
    IDF,
    HashingTF,
    NGram,
    Normalizer,
    RegexTokenizer,
    SQLTransformer,
    StopWordsRemover,
)
from pyspark.sql import DataFrame

TOKEN_PATTERN = r"[^\w\d]"


def build_name_pipeline(
    id_col: str,
    text_col: str,
    num_features: int = 36**3,
) -> Pipeline:
    """The reference's name featurizer as an ml.Pipeline
    (`01_Feature Engineering.py:184-298`): regex-tokenize, stop-filter,
    melt words to char arrays (SQLTransformer), char-3-gram, collapse
    back to one bag per row (SQLTransformer), binary HashingTF, IDF,
    L2 normalize. numFeatures=36³ matches the reference's 3-char
    alphanumeric gram space (`01_Feature Engineering.py:279`)."""
    tokenizer = RegexTokenizer(
        inputCol=text_col,
        outputCol="words",
        pattern=TOKEN_PATTERN,
        minTokenLength=1,
    )
    stop = StopWordsRemover(inputCol="words", outputCol="words_kept")
    melt = SQLTransformer(
        statement=(
            "SELECT *, split(w.word, '') AS chars "
            "FROM __THIS__ LATERAL VIEW explode(words_kept) w AS word"
        )
    )
    ngram = NGram(n=3, inputCol="chars", outputCol="char_grams")
    collapse = SQLTransformer(
        statement=(
            "SELECT {id}, {text}, collect_list(g.gram) AS grams "
            "FROM __THIS__ LATERAL VIEW explode(char_grams) g AS gram "
            "GROUP BY {id}, {text}"
        ).format(id=id_col, text=text_col)
    )
    tf = HashingTF(
        inputCol="grams", outputCol="tf", numFeatures=num_features, binary=True
    )
    idf = IDF(inputCol="tf", outputCol="tfidf")
    norm = Normalizer(inputCol="tfidf", outputCol="features", p=2.0)
    return Pipeline(stages=[tokenizer, stop, melt, ngram, collapse, tf, idf, norm])


def fit_name_pipeline(
    df: DataFrame, id_col: str, text_col: str, num_features: int = 36**3
) -> PipelineModel:
    return build_name_pipeline(id_col, text_col, num_features).fit(df)
