from .distance import (  # noqa: F401
    cosine_similarity,
    dot_product,
    l2_norm,
)
from .hashing import md5_long, stable_sample_key  # noqa: F401
from .text import (  # noqa: F401
    token_count,
    tokens,
    word_shingles,
)
from .layout import (  # noqa: F401
    write_zorder_clustered,
    zorder_key,
)
