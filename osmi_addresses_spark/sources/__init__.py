from .parser import parse_documents, serialize_entities, nodes_view, ways_view  # noqa: F401
