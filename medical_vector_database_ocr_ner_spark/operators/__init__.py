from .extraction import (
    DOCUMENT_SCHEMA,
    ENTITY_TYPE,
    extract_documents,
)
