from .text import tokens_expr, normalize_text_expr  # noqa: F401
from .hashing import md5_qid  # noqa: F401
from .vectors import cosine_expr, dot_expr, norm_expr  # noqa: F401
